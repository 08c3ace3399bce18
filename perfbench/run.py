"""Deals-analytics benchmark: closed-loop workloads over registered queries.

Usage, from the root of a checkout:

    python3 perfbench/run.py --cpus 2 --driver-mem 2g \
        --workload deals_sql --seed 1 --seconds 5 --trace 0

One run generates the workload's inputs from the seed, starts one Spark
session, runs the workload's untimed warm-up passes, checks each op type's result
from the first of them against its DuckDB oracle, and then runs the
workload's timed passes (more whole passes while ``--seconds`` have not
passed). The process tree's CPU per pass is recorded, so the artifact shows
how far the JVM was still warming. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics and ``--trace 1`` the per-layer ones. A fuller record of
the run (settings, warm-up passes, host steal and load, every op) goes to
``.bench_out/``, and the traced run's spans beside it.

End-to-end metrics come from untraced ops only. A traced run traces every
other op, so comparing traced and untraced ops of the same op type gives
the tracing overhead, measured under the same conditions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
import spans as tr  # noqa: E402
import verify  # noqa: E402
from workloads import WORKLOADS, op_order  # noqa: E402

SF = 0.1  # input scale: tools/gen_scale.generate(SF, ...)
QUIET_STEAL = 0.10  # host.quiet: less host CPU stolen than this during the timed passes
TAIL_BEYOND = 10  # op_tail_s: the highest percentile with this many ops above it
RUN_DEADLINE_S = 120.0  # start no pass after this; a run must end within 180 s
JVM_EXIT_S = 10.0  # wait this long for the JVM to exit on its own before killing it

END_TO_END_UNITS = {
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
    "cpu_s_per_op": "s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "ok_op_share": "ratio",
}


LAYER_UNITS = {
    "session.start_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_self_s": "s",
    "plans.action_s": "s",
    "plans.action_self_s": "s",
    "plans.jobs_per_op": "count",
    "plans.stages_per_op": "count",
    "plans.tasks_per_op": "count",
    "plans.job_self_s": "s",
    "plans.driver_gap_s": "s",
    "plans.task_cpu_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_read_bytes": "bytes",
    "plans.shuffle_write_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "io.input_bytes": "bytes",
    "io.input_records": "count",
    "io.output_bytes": "bytes",
    "io.output_records": "count",
    "streaming.epochs_per_op": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.epoch_self_ms": "ms",
    "streaming.input_rows": "count",
    "operators.python_cpu_s": "s",
    "operators.task_nonjvm_s": "s",
    "host.steal_share": "ratio",
    "host.load1": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--cpus", required=True, help="SPARK_GRAFT_CPUS: local[N] and shuffle partitions")
    p.add_argument("--driver-mem", required=True, help="SPARK_GRAFT_DRIVER_MEM")
    p.add_argument("--sf", type=float, default=SF, help="input scale (the smoke test uses a tiny one)")
    return p.parse_args(argv)


def require_checkout() -> None:
    """Fail before any work when the program is not beside the benchmark."""
    needed = ("realestatedeals_spark/__init__.py", "tools/gen_scale.py", "tools/check.py")
    missing = [f for f in needed if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        sys.exit(f"perfbench: not a checkout of the repository, missing {', '.join(missing)}")


def pin_environment(args: argparse.Namespace, work: str) -> dict:
    """Engine settings and work locations, set before the JVM starts.

    Python workers import plan modules by name, so the checkout goes on
    PYTHONPATH. Temporary files, Spark's local dirs and the warehouse live in
    the run's own work directory.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(args.cpus),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # No hsperfdata files in /tmp, and JVM temp files in the work dir.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return env


class Runner:
    """One Spark session running one workload's ops."""

    def __init__(self, spark, inputs: str):
        from realestatedeals_spark import util
        from realestatedeals_spark.plans import QUERIES

        self.spark = spark
        self.inputs = inputs
        self.queries = QUERIES
        self.trainer_cache = getattr(util, "TRAINER_CACHE", None)
        self.reader = None  # set for traced ops
        self.events: list[dict] = []
        self.events_lock = threading.Lock()
        self.spans: list[tr.Span] = []
        self.n_ops = 0

    def run_op(self, name: str, traced: bool = False) -> dict:
        """Registry call plus an Arrow collect of every column, timed apart."""
        if self.trainer_cache is not None:
            self.trainer_cache.clear()
        op_id = self.n_ops
        self.n_ops += 1
        rec = {"op": name, "id": op_id, "traced": traced}
        if traced:
            self.reader.skip_to_now()
            with self.events_lock:
                n_events = len(self.events)
        before = procfs.sample_tree()
        e0 = time.time() * 1000
        t0 = time.perf_counter()
        try:
            df = self.queries[name].fn(self.spark, self.inputs)
            t1 = time.perf_counter()
            table = df.toArrow()
            t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 — a failing op is counted, not fatal
            rec.update(ok=False, error=traceback.format_exc(limit=3)[-600:],
                       wall_s=time.perf_counter() - t0)
            return rec
        after = procfs.sample_tree()
        rec.update(
            ok=True,
            wall_s=t2 - t0,
            construct_s=t1 - t0,
            action_s=t2 - t1,
            cpu_s=after.cpu_s - before.cpu_s,
            python_cpu_s=after.python_worker_cpu_s - before.python_worker_cpu_s,
            hwm_mb=after.hwm_mb,
            rows_out=table.num_rows,
            result=table,
        )
        if traced:
            self._trace(op_id, e0, e0 + (t1 - t0) * 1000, e0 + (t2 - t0) * 1000, n_events)
        return rec

    def _trace(self, op_id: int, start: float, mid: float, end: float, n_events: int) -> None:
        self.reader.drain()
        spans = [
            tr.Span("op", start, end, op_id),
            tr.Span("plans.construct", start, mid, op_id),
            tr.Span("plans.action", mid, end, op_id),
        ]
        spans += self.reader.read_new(op_id)
        with self.events_lock:
            new = self.events[n_events:]
        spans += tr.epoch_spans(new, op_id)
        self.spans += spans

    def start_tracing(self) -> None:
        self.reader = tr.StatusStoreReader(self.spark)
        self.listener = tr.make_listener(self.events, self.events_lock)
        self.spark.streams.addListener(self.listener)


def run_oracles(check, ops: list[str], queries, inputs: str, spill: str) -> dict:
    """Each op type's oracle result (or the error), on one DuckDB connection."""
    con = verify.connect_oracle(check, inputs, spill)
    out = {}
    for name in ops:
        try:
            out[name] = con.execute(queries[name].oracle).fetchdf()
        except Exception as exc:  # noqa: BLE001 — reported as a failed check
            out[name] = exc
    con.close()
    return out


def check_results(recs: list[dict], verified: dict[str, str | None]) -> None:
    """Mark each op verified when its result hashes to its op type's
    oracle-checked result; the result itself is dropped."""
    for rec in recs:
        table = rec.pop("result", None)
        rec["verified"] = rec["ok"] and verified[rec["op"]] is not None and (
            verify.result_hash(table) == verified[rec["op"]])


def percentile_tail(walls: list[float]) -> dict:
    """The highest percentile with at least TAIL_BEYOND ops above it."""
    n = len(walls)
    if n <= TAIL_BEYOND:
        return {"value": max(walls), "percentile": 100.0, "n": n, "beyond": 0}
    rank = n - TAIL_BEYOND  # 1-based rank of the tail sample
    return {
        "value": sorted(walls)[rank - 1],
        "percentile": 100.0 * rank / n,
        "n": n,
        "beyond": TAIL_BEYOND,
    }


def summarize_end_to_end(ops: list[dict], input_rows: dict, setup_s: float, peak_mb: float,
                         ok_op_share: float) -> tuple[dict, dict]:
    """End-to-end metrics over the untraced timed ops."""
    good = [o for o in ops if o["verified"]]
    walls = [o["wall_s"] for o in good] or [float("nan")]
    tail = percentile_tail(walls)
    return {
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail["value"],
        "rows_per_s": sum(input_rows[o["op"]] for o in good) / sum(o["wall_s"] for o in good) if good else 0.0,
        "cpu_s_per_op": sum(o.get("cpu_s", 0.0) for o in ops) / len(ops),
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "ok_op_share": ok_op_share,
    }, tail


def tracing_overhead(traced: list[dict], untraced: list[dict]) -> float:
    """Median over op types of (mean traced wall - mean untraced wall).

    Pairing by op type keeps the mix of op types out of the difference.
    """
    diffs = []
    for name in {o["op"] for o in traced} & {o["op"] for o in untraced}:
        on = [o["wall_s"] for o in traced if o["op"] == name]
        off = [o["wall_s"] for o in untraced if o["op"] == name]
        diffs.append(statistics.fmean(on) - statistics.fmean(off))
    return statistics.median(diffs)


def summarize_layers(runner: Runner, traced_ops: list[dict]) -> dict:
    """Per-op layer metrics over the traced ops, as means per op.

    Means add up across the mix's op types, so a layer that only some op
    types use still shows, and moves when any of them changes; a median
    over the mix would read 0 for such a layer.
    """
    spans = runner.spans
    tr.assign_parents(spans)
    selft = tr.self_times(spans)
    by_id = {s.id: s for s in spans}
    ids = {o["id"] for o in traced_ops}
    n = len(traced_ops)

    def under(s: tr.Span, name: str) -> bool:
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name == name:
                return True
        return False

    per_op: dict[int, dict] = {i: {} for i in ids}

    def add(op: int, key: str, v: float) -> None:
        per_op[op][key] = per_op[op].get(key, 0.0) + v

    for s in spans:
        if s.op not in ids:
            continue
        if s.name == "spark.job":
            add(s.op, "jobs", 1)
            add(s.op, "construct_jobs", under(s, "plans.construct"))
            add(s.op, "job_self_ms", selft[s.id])
        elif s.name == "spark.stage":
            a = s.attrs
            add(s.op, "stages", 1)
            add(s.op, "tasks", a["tasks"])
            add(s.op, "task_cpu_s", a["cpu_ns"] / 1e9)
            add(s.op, "task_nonjvm_s", a["run_ms"] / 1e3 - a["cpu_ns"] / 1e9)
            add(s.op, "gc_s", a["gc_ms"] / 1e3)
            for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                      "input_bytes", "input_records", "output_bytes", "output_records"):
                add(s.op, k, a[k])
        elif s.name == "streaming.epoch":
            add(s.op, "epochs", 1)
            add(s.op, "trigger_ms", s.dur)
            add(s.op, "stream_input_rows", s.attrs["input_rows"])
            add(s.op, "epoch_self_ms", selft[s.id])
        elif s.name.startswith("streaming."):
            add(s.op, s.name, s.dur)
        elif s.name in ("plans.construct", "plans.action"):
            add(s.op, s.name + "_self_ms", selft[s.id])
    for o in traced_ops:
        op_spans = [s for s in spans if s.op == o["id"]]
        op_span = next(s for s in op_spans if s.name == "op")
        stage_iv = [(s.start, s.end) for s in op_spans if s.name == "spark.stage"]
        per_op[o["id"]]["driver_gap_s"] = (op_span.dur - tr.union_ms(stage_iv, op_span.start, op_span.end)) / 1e3

    def mean(key: str, scale: float = 1.0) -> float:
        return sum(per_op[i].get(key, 0.0) for i in ids) * scale / n

    return {
        "plans.construct_s": sum(o["construct_s"] for o in traced_ops) / n,
        "plans.construct_jobs": mean("construct_jobs"),
        "plans.construct_self_s": mean("plans.construct_self_ms", 1e-3),
        "plans.action_s": sum(o["action_s"] for o in traced_ops) / n,
        "plans.action_self_s": mean("plans.action_self_ms", 1e-3),
        "plans.jobs_per_op": mean("jobs"),
        "plans.stages_per_op": mean("stages"),
        "plans.tasks_per_op": mean("tasks"),
        "plans.job_self_s": mean("job_self_ms", 1e-3),
        "plans.driver_gap_s": mean("driver_gap_s"),
        "plans.task_cpu_s": mean("task_cpu_s"),
        "plans.gc_s": mean("gc_s"),
        "plans.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "plans.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "plans.spill_bytes": mean("spill_bytes"),
        "io.input_bytes": mean("input_bytes"),
        "io.input_records": mean("input_records"),
        "io.output_bytes": mean("output_bytes"),
        "io.output_records": mean("output_records"),
        "streaming.epochs_per_op": mean("epochs"),
        "streaming.trigger_ms": mean("trigger_ms"),
        "streaming.add_batch_ms": mean("streaming.addBatch"),
        "streaming.query_planning_ms": mean("streaming.queryPlanning"),
        "streaming.wal_commit_ms": mean("streaming.walCommit"),
        "streaming.commit_offsets_ms": mean("streaming.commitOffsets"),
        "streaming.epoch_self_ms": mean("epoch_self_ms"),
        "streaming.input_rows": mean("stream_input_rows"),
        "operators.python_cpu_s": sum(o["python_cpu_s"] for o in traced_ops) / n,
        "operators.task_nonjvm_s": mean("task_nonjvm_s"),
    }


def main(argv: list[str]) -> int:
    t_proc = time.time() - procfs.process_age_s()
    args = parse_args(argv)
    require_checkout()
    # Every process the run starts (the JVM and its Python workers) ends
    # before the run does, on every way out, SIGTERM included.
    procfs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, t_proc)
    finally:
        procfs.stop_descendants(JVM_EXIT_S)
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, work: str, t_proc: float) -> int:
    env = pin_environment(args, work)
    import pyarrow.parquet as pq

    check = verify.load_tool(ROOT, "check")
    gen_scale = verify.load_tool(ROOT, "gen_scale")
    setup: dict[str, float] = {}
    inputs = os.path.join(work, "inputs")

    t = time.time()
    with contextlib.redirect_stdout(sys.stderr):
        gen_scale.generate(args.sf, inputs, seed=args.seed)
    setup["generate_s"] = time.time() - t
    table_rows = {tb: pq.ParquetFile(os.path.join(inputs, f"{tb}.parquet")).metadata.num_rows for tb in check.TABLES}

    t = time.time()
    import realestatedeals_spark
    from realestatedeals_spark.plans import QUERIES
    from realestatedeals_spark.session import get_spark

    setup["import_s"] = time.time() - t
    # The driver process must run the checkout's own plans, not a copy
    # found elsewhere on sys.path.
    package = os.path.realpath(os.path.dirname(realestatedeals_spark.__file__))
    if os.path.commonpath([package, os.path.realpath(ROOT)]) != os.path.realpath(ROOT):
        sys.exit(f"perfbench: imported realestatedeals_spark from {package}, not from {ROOT}")
    env = {**env, "package": package}
    t = time.time()
    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    })
    setup["session_start_s"] = time.time() - t
    try:
        return measure(args, env, spark, check, QUERIES, inputs, work, table_rows, setup, t_proc)
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session and let the JVM exit, as it does when Python exits.

    The JVM leaves when its stdin closes, and runs its shutdown hooks;
    ``stop_descendants`` then ends whatever is left.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=JVM_EXIT_S)
            except Exception:  # noqa: BLE001 — stop_descendants kills it
                pass


def measure(args, env, spark, check, queries, inputs, work, table_rows, setup, t_proc) -> int:
    ops = op_order(args.workload, args.seed)
    input_rows = {
        name: sum(table_rows[tb] for tb in verify.tables_read(queries[name].oracle, check.TABLES))
        for name in ops
    }
    runner = Runner(spark, inputs)

    # The first, cold pass gives each op type's first result; the oracles run
    # beside it on one DuckDB thread.
    t = time.time()
    with ThreadPoolExecutor(1) as pool:
        oracle_future = pool.submit(run_oracles, check, ops, queries, inputs, os.path.join(work, "duckdb"))
        c0 = procfs.sample_tree().cpu_s
        first = {name: runner.run_op(name) for name in ops}
        warm = {"passes": WORKLOADS[args.workload].warmup, "wall_s": [time.time() - t], "cpu_s": [procfs.sample_tree().cpu_s - c0]}
        oracle = oracle_future.result()

    checks: dict[str, dict] = {}
    verified: dict[str, str | None] = {}
    for name in ops:
        rec, odf = first[name], oracle[name]
        if not rec["ok"]:
            ok, detail = False, "spark error: " + rec["error"]
        elif isinstance(odf, Exception):
            ok, detail = False, f"oracle error: {odf!r}"[:600]
        else:
            ok, detail = verify.compare_to_oracle(check, rec["result"].to_pandas(), odf)
        checks[name] = {"ok": ok, "detail": detail}
        verified[name] = verify.result_hash(rec["result"]) if ok else None
    first.clear()
    oracle.clear()
    warm["failed"] = 0
    for _ in range(WORKLOADS[args.workload].warmup - 1):
        w0, c0 = time.time(), procfs.sample_tree().cpu_s
        recs = [runner.run_op(name) for name in ops]
        warm["wall_s"].append(time.time() - w0)
        warm["cpu_s"].append(procfs.sample_tree().cpu_s - c0)
        check_results(recs, verified)
        warm["failed"] += sum(not r["verified"] for r in recs)
    setup["warmup_s"] = time.time() - t
    setup_s = time.time() - t_proc

    # Timed passes: the workload's pass count, and more whole passes while
    # --seconds have not passed. Each pass records the host's steal and load,
    # so a pass that measured the neighbours rather than the program shows in
    # the artifact.
    if args.trace:
        runner.start_tracing()
    timed: list[dict] = []
    passes: list[dict] = []
    host0, tree0, t0 = procfs.sample_host(), procfs.sample_tree(), time.time()
    p = 0
    while (
        p < WORKLOADS[args.workload].passes
        or time.time() - t0 < args.seconds
        or (args.trace and p < 2)
    ) and time.time() - t_proc < RUN_DEADLINE_S:
        h0, w0 = procfs.sample_host(), time.time()
        # In a traced run every other op is traced, flipping each pass, so
        # each op type is traced and untraced equally often.
        recs = [runner.run_op(name, traced=bool(args.trace and (i + p) % 2)) for i, name in enumerate(ops)]
        h1 = procfs.sample_host()
        passes.append({
            "wall_s": time.time() - w0,
            "cpu_s": sum(r.get("cpu_s", 0.0) for r in recs),
            "steal_share": (h1.steal - h0.steal) / max(h1.total - h0.total, 1),
            "load1": procfs.load1(),
        })
        check_results(recs, verified)
        for rec in recs:
            rec["pass"] = p
        timed += recs
        p += 1
    tree1, host1, region_s = procfs.sample_tree(), procfs.sample_host(), time.time() - t0
    host = procfs.host_delta(host0, host1, tree1.cpu_s - tree0.cpu_s)
    host["load1"] = statistics.median(q["load1"] for q in passes)
    host["quiet"] = host["steal_share"] < QUIET_STEAL and host["other_busy_share"] < 0.10

    untraced = [o for o in timed if not o["traced"]]
    peak_mb = max(tree1.hwm_mb, *(o.get("hwm_mb", 0.0) for o in timed))
    failed = sum(not o["verified"] for o in timed)
    e2e, tail = summarize_end_to_end(untraced, input_rows, setup_s, peak_mb, 1 - failed / len(timed))
    correct = failed == 0 and warm["failed"] == 0 and all(c["ok"] for c in checks.values())

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "settings": {**env, "sf": args.sf, "seconds": args.seconds, "op_order": ops},
        "setup": {**setup, "setup_s": setup_s},
        "warmup": warm,
        # Per timed pass: wall, CPU, steal and load. A falling CPU series
        # means the JVM was still warming.
        "timed_passes": passes,
        "oracle_checks": checks,
        "input_rows_per_op": input_rows,
        "host": host,
        "peak_rss_mb_by_process": tree1.hwm_by_process,
        "timed_region_s": region_s,
        "end_to_end": e2e,
        "tail": tail,
        "ops": timed,
    }
    if args.trace:
        traced = [o for o in timed if o["traced"] and o["ok"]]
        layers = summarize_layers(runner, traced)
        layers["session.start_s"] = setup["session_start_s"]
        layers["host.steal_share"] = host["steal_share"]
        layers["host.load1"] = host["load1"]
        layers["trace.overhead_s"] = tracing_overhead(traced, untraced)
        artifact["per_layer"] = layers
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    write_artifact(args, artifact, runner.spans if args.trace else None)
    print(f"perfbench: {args.workload} seed={args.seed} timed_passes={p} "
          f"ops={len(timed)} host={host}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed, "metrics": metrics}))
    return 0


def write_artifact(args, artifact: dict, spans: list[tr.Span] | None) -> None:
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    if spans is not None:
        with open(stem + ".spans.json", "w") as fh:
            selft = tr.self_times(spans)
            json.dump([{**vars(s), "self_ms": selft[s.id]} for s in spans], fh, default=str)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
