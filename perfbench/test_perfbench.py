"""The benchmark's own tests: span self time, the tail percentile, and a
smoke run of every workload on tiny seeded inputs.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
import run  # noqa: E402
import spans as tr  # noqa: E402
import verify  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_self_time_on_hand_built_tree():
    S = tr.Span
    spans = [
        S("op", 0, 100, 7),
        S("plans.construct", 0, 60, 7),
        S("plans.action", 60, 100, 7),
        S("streaming.epoch", 5, 55, 7, {"epoch": "q:0"}),
        S("streaming.addBatch", 10, 40, 7, {"epoch": "q:0"}),
        S("spark.job", 10, 30, 7, {"job_id": 1}),  # inside the epoch
        S("spark.job", 40, 58, 7, {"job_id": 2}),  # outlives the epoch
        S("spark.job", 70, 90, 7, {"job_id": 3}),
        S("spark.stage", 12, 28, 7, {"job_id": 1}),
        S("spark.stage", 70, 80, 7, {"job_id": 3}),
        S("spark.stage", 75, 90, 7, {"job_id": 3}),  # overlaps its sibling
        S("op", 200, 210, 8),  # another op: never a parent of op 7's spans
    ]
    tr.assign_parents(spans)
    parent = {s.id: s.parent for s in spans}
    assert parent == {0: None, 1: 0, 2: 0, 3: 1, 4: 3, 5: 3, 6: 1, 7: 2, 8: 5, 9: 7, 10: 7, 11: None}
    assert tr.self_times(spans) == {
        0: 0.0,  # construct and action cover the op
        1: 7.0,  # 60 - union(epoch 5..55, job 40..58)
        2: 20.0,
        3: 20.0,  # 50 - union(addBatch 10..40, job 10..30)
        4: 30.0,
        5: 4.0,
        6: 18.0,
        7: 0.0,  # overlapping stages cover 70..90 once
        8: 16.0,
        9: 10.0,
        10: 15.0,
        11: 10.0,
    }


@pytest.mark.parametrize("n", [11, 14, 25, 100])
def test_tail_leaves_ten_ops_beyond(n):
    walls = [float(i) for i in range(n)]
    tail = run.percentile_tail(walls)
    assert sum(w > tail["value"] for w in walls) == run.TAIL_BEYOND
    assert tail["percentile"] == pytest.approx(100.0 * (n - run.TAIL_BEYOND) / n)


def test_tracing_overhead_pairs_ops_by_type():
    def op(name, wall):
        return {"op": name, "wall_s": wall}

    traced = [op("a", 1.1), op("a", 1.3), op("b", 5.5)]
    untraced = [op("a", 1.0), op("b", 5.0), op("b", 5.2), op("c", 9.0)]
    # a: 1.2 - 1.0, b: 5.5 - 5.1; c has no traced op
    assert run.tracing_overhead(traced, untraced) == pytest.approx(0.3)


def test_result_hash_ignores_row_and_column_order():
    import pyarrow as pa

    t = pa.table({"b": [1, 2, 2], "a": ["x", None, "z"], "l": [[1], [2, 3], []]})
    assert verify.result_hash(t) == verify.result_hash(t.take([2, 0, 1]).select(["l", "a", "b"]))
    assert verify.result_hash(t) != verify.result_hash(t.take([0, 1, 1]))  # a row repeated, another lost
    assert verify.result_hash(t) != verify.result_hash(t.slice(0, 2))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_run_has_ops_beyond_the_tail(workload):
    w = WORKLOADS[workload]
    assert w.passes * len(w.ops) > run.TAIL_BEYOND


def test_benchmark_json_matches_the_reported_metrics():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    """One benchmark run, and a check that it left no process behind.

    The test process adopts orphans, so a JVM or Python worker that outlives
    the run shows up below it.
    """
    procfs.become_subreaper()
    cmd = _bench()["command"] + list(args)
    # Output goes to files, not pipes: reading a pipe to its end would also
    # wait for any process that inherited it.
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        p = subprocess.run(cmd, cwd=cwd, stdout=out, stderr=err, text=True, timeout=600)
        left = procfs.live_descendants()
        out.seek(0)
        err.seek(0)
        p.stdout, p.stderr = out.read(), err.read()
    assert left == [], p.stderr[-3000:]
    return p


def test_sigterm_stops_every_process(tmp_path):
    procfs.become_subreaper()
    cmd = _bench()["command"] + ["--workload", "poll_stream", "--seed", "5", "--seconds", "1",
                                 "--trace", "0", "--sf", "0.001"]
    with open(tmp_path / "err", "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            while not any(procfs._stat(pid)[1] == "java" for pid in procfs.live_descendants()
                          if procfs._stat(pid)):
                assert p.poll() is None, "the run ended before its JVM started"
                time.sleep(0.2)
            p.send_signal(signal.SIGTERM)
            out, _ = p.communicate(timeout=60)
        finally:
            p.kill()
    assert p.returncode != 0 and out.strip() == ""
    assert procfs.live_descendants() == []


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_every_workload(workload):
    seed = 5
    p = _run(ROOT, "--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", "0", "--sf", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > run.TAIL_BEYOND
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END_UNITS
    with open(os.path.join(ROOT, ".bench_out", f"{workload}-seed{seed}-trace0.json")) as fh:
        artifact = json.load(fh)
    assert artifact["tail"]["beyond"] >= run.TAIL_BEYOND
    assert artifact["tail"]["n"] == result["attempted"]


def test_smoke_traced_run():
    p = _run(ROOT, "--workload", "poll_stream", "--seed", "5", "--seconds", "1", "--trace", "1", "--sf", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.LAYER_UNITS
    assert result["metrics"]["streaming.epochs_per_op"]["value"] > 0
    with open(os.path.join(ROOT, ".bench_out", "poll_stream-seed5-trace1.spans.json")) as fh:
        spans = json.load(fh)
    names = {s["name"] for s in spans}
    assert {"op", "plans.construct", "plans.action", "spark.job", "spark.stage", "streaming.epoch"} <= names
    assert all(s["parent"] is not None for s in spans if s["name"] != "op")


def test_benchmarks_the_checkout_it_runs_in(tmp_path):
    """A copy of the checkout elsewhere times its own package, even while
    another copy of the repository sits at the path the tools name."""
    copy = tmp_path / "checkout"
    for d in ("realestatedeals_spark", "tools", "perfbench"):
        shutil.copytree(os.path.join(ROOT, d), copy / d, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), copy)
    p = _run(str(copy), "--workload", "poll_stream", "--seed", "5", "--seconds", "1", "--trace", "0", "--sf", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    with open(copy / ".bench_out" / "poll_stream-seed5-trace0.json") as fh:
        artifact = json.load(fh)
    assert artifact["settings"]["package"] == os.path.realpath(copy / "realestatedeals_spark")
    assert artifact["settings"]["PYTHONPATH"].split(os.pathsep)[0] == str(copy)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "deals_sql", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
