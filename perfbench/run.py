"""Benchmark entry point.

    python3 perfbench/run.py --workload kg --seed 1 --seconds 1 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a local Spark session, runs the set-up, then times whole
rounds until --seconds have passed: closed loop, one call in flight. Every result is checked
afterwards. The last line of standard output is the JSON result; the
line before it reports the run under the per-workload names of the
README.

--trace 1 is a separate, traced run of at least two rounds. It records a
span around every call and turns Spark's event log on for alternate
calls, then prints the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

import checks
import gen
import layers
import stats
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kg", "textops")
DRIVER_MEM = "2g"
# two task slots on four vCPUs, so the JVM's own threads and the Python
# workers' start-up do not queue behind the tasks
MAX_CORES = 2
# every run is one short, cold process: one C1 compiler thread and the
# serial collector add the fewest JVM threads (with them, peak RSS stayed
# within 5% of its median across seeds; see README.md)
JVM_OPTS = ("-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:CICompilerCount=1"
            " -XX:+UseSerialGC")


def process_start() -> float:
    """Epoch seconds at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22, counted after the name
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside `work`, and let Spark's
    Python workers import the program."""
    for d in ("tmp", "spark-local", "jtmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None


def start_session(work: str, name: str, trace: bool):
    from guac_spark.session import get_spark

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')} {JVM_OPTS}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # zstandard is not installed: the log must stay plain JSON
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"perfbench-{name}", cpus=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def check_workers(spark) -> None:
    """Fail loudly unless Spark's Python workers can import the program."""
    def probe(_):
        import guac_spark

        yield guac_spark.__name__

    try:
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    except Exception as e:  # noqa: BLE001 — any worker failure is fatal
        raise SystemExit(f"Python workers cannot import guac_spark: {e}")


class NoTracer:
    """Stands in for a Tracer in untraced rounds."""

    @staticmethod
    def span(name):
        return contextlib.nullcontext()


def time_slot(slot, tracer):
    """Run one call; returns (result, seconds, error, start, end)."""
    start = time.time()
    t0 = time.perf_counter()
    err = None
    res = None
    try:
        with tracer.span(slot.name):
            res = slot.fn()
    except Exception:  # noqa: BLE001 — a failed call is counted, not fatal
        err = traceback.format_exc()
        print(f"[perfbench] {slot.name} raised:\n{err}", file=sys.stderr)
    dt = time.perf_counter() - t0
    return res, dt, err, start, start + dt


def logged(round_i: int, slot_i: int) -> bool:
    """Whether a call in a traced run is event-logged: alternate slots
    within a round and swap them in the next, so each slot has a logged
    and an unlogged call and the pairs straddle any drift."""
    return (round_i + slot_i) % 2 == 0


def judge(ops: list[dict], refs: dict, same: dict, finish_ok: bool) -> int:
    """Mark each call ok or not and return the number that failed: a call
    fails if it raised, if its slot has no reference (the reference call
    raised), if its rows differ from the reference, or if a check over
    the whole window failed."""
    failed = 0
    for op in ops:
        ref = refs[op["slot"]]
        op["ok"] = (op["err"] is None and ref is not None and finish_ok
                    and same[op["slot"]](op["rows"], ref))
        failed += not op["ok"]
    return failed


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to end
    (stopping the context already ends the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


def run(args, work: str, t_proc: float) -> dict:
    trace = bool(args.trace)
    inputs = gen.generate(os.path.join(work, "inputs"), args.seed,
                          **workloads.SIZES[args.workload])
    t = time.time()
    spark, cores = start_session(work, args.workload, trace)
    try:
        record = _run(args, work, t_proc, spark, cores, inputs, t)
    finally:
        stop_session(spark)
    # the event log is complete once the session has stopped
    if trace:
        logs = os.listdir(os.path.join(work, "eventlog"))
        record["per_layer"] = layers.per_layer(
            record, os.path.join(work, "eventlog", logs[0]), cores)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        record["tracer"].write(os.path.join(
            out, f"spans-{args.workload}-{args.seed}.jsonl"))
    return record


def _run(args, work, t_proc, spark, cores, inputs, t) -> dict:
    trace = bool(args.trace)
    check_workers(spark)
    session_s = time.time() - t
    tracer = tracing.Tracer(run_id=f"{args.workload}-{args.seed}")
    cur = tracer if trace else NoTracer
    switch = tracing.EventLogSwitch(spark) if trace else None
    if switch:
        switch.detach()
    wl = workloads.WORKLOADS[args.workload](spark, inputs, work, args.seed)
    wl.tracer = cur
    t_s = time.time()
    wl.setup()
    print(f"[perfbench] session {session_s:.1f}s, workload set-up "
          f"{time.time() - t_s:.1f}s", file=sys.stderr)

    # the window: whole rounds, closed loop, until --seconds have passed
    # (a traced run makes an even number of rounds, at least two)
    t_first = time.time()
    ops: list[dict] = []
    # a slot's place in the full round, so its logged calls alternate
    # across rounds even when a later round skips slots
    order = {slot.name: k for k, slot in enumerate(wl.round(0))}
    i = 0
    w0 = time.perf_counter()
    while (i == 0 or time.perf_counter() - w0 < args.seconds
           or (trace and i % 2)):
        with cur.span("round"):
            for slot in wl.round(i):
                on = trace and logged(i, order[slot.name])
                if switch:
                    switch.attach() if on else switch.detach()
                cpu0 = tracing.tree_cpu_s()
                res, dt, err, a, b = time_slot(slot, cur)
                cpu = tracing.tree_cpu_s() - cpu0
                if switch:
                    switch.detach()
                op = {"slot": slot.name, "round": i, "dt": dt, "cpu": cpu,
                      "start": a, "end": b, "traced": on, "err": err,
                      "extra": None, "rows": None}
                if err is None:
                    op["rows"] = slot.rows(res)
                    if on:
                        op["extra"] = wl.extra(slot.name, res, op["rows"])
                print(f"[perfbench] round {i} {slot.name} {dt:.3f}s",
                      file=sys.stderr)
                ops.append(op)
        i += 1

    print(f"[perfbench] set-up {t_first - t_proc:.1f}s, window "
          f"{time.perf_counter() - w0:.1f}s", file=sys.stderr)
    # checks, outside the timed region: each call against the oracle, or
    # else against an untimed repeat of the call
    slots = {slot.name: slot for slot in wl.round(0)}
    oracle = checks.Oracle(inputs["base_dir"])
    refs: dict[str, object] = {}
    for slot in slots.values():
        if slot.reference:
            refs[slot.name] = slot.reference(oracle)
        else:
            res, _, err, _, _ = time_slot(slot, NoTracer)
            refs[slot.name] = None if err else slot.rows(res)
    oracle.close()
    print(f"[perfbench] checks {time.time() - t_first:.1f}s after the "
          "window opened", file=sys.stderr)
    failed = judge(ops, refs, {k: s.same for k, s in slots.items()},
                   wl.finish())
    bad = sorted({op["slot"] for op in ops if not op["ok"]})
    if bad:
        print(f"[perfbench] failed checks: {bad}", file=sys.stderr)
    return {
        "ops": ops, "rounds": i, "failed": failed,
        "setup_s": t_first - t_proc, "session_s": session_s,
        "shape": wl.shape(), "tracer": tracer, "inputs": inputs,
    }


def by_round(ops: list[dict], prefix: str = "",
             key: str = "dt") -> list[list[float]]:
    """Per round, the `key` values of the calls whose slot starts with
    `prefix`."""
    rounds: dict[int, list[float]] = {}
    for op in ops:
        if op["slot"].startswith(prefix):
            rounds.setdefault(op["round"], []).append(op[key])
    return list(rounds.values())


def end_to_end(args, rec: dict, peak_rss_b: int) -> tuple[dict, dict]:
    """(contract metrics, report under the README's per-workload names);
    both map a name to (value, unit)."""
    ops = rec["ops"]
    dts = [op["dt"] for op in ops]
    rounds = by_round(ops)
    # wall time drifts with the shared host by more than a bound can
    # allow (README.md), so the bounded metrics are set-up wall time, CPU
    # time and memory; the wall times go on the report line
    m = {
        "setup_s": (rec["setup_s"], "s"),
        "round_cpu_s": (stats.median(
            [sum(r) for r in by_round(ops, key="cpu")]), "s"),
        "peak_rss_mb": (peak_rss_b / 2**20, "MB"),
    }
    tail, p = stats.tail(dts)
    named = dict(m)
    named.update({
        "round_s": (stats.median([sum(r) for r in rounds]), "s"),
        "fail_ratio": (stats.fail_ratio(len(ops), rec["failed"]),
                       "fraction"),
        "call_geomean_ms": (
            stats.median([stats.geomean(r) for r in rounds]) * 1000, "ms"),
        "call_p50_ms": (stats.median(dts) * 1000, "ms"),
        "call_tail_ms": (tail * 1000, "ms"),
    })
    report = {"workload": args.workload, "seed": args.seed,
              "rounds": rec["rounds"], "calls": len(ops),
              "call_tail": f"p{p} of n={len(dts)}",
              "input_rows": rec["inputs"]["rows"], "shape": rec["shape"]}
    if args.workload == "kg":
        build = stats.median([op["dt"] for op in ops if op["slot"]
                              == "build.pipeline.run_pipeline"])
        q = [op["dt"] for op in ops if op["slot"].startswith("query.")]
        qt, qp = stats.tail(q)
        report["query_tail"] = f"p{qp} of n={len(q)}"
        named.update({
            "build_turns_per_s": (rec["inputs"]["rows"]["events"] / build,
                                  "1/s"),
            "build_wall_s": (build, "s"),
            "query_p50_ms": (stats.median(q) * 1000, "ms"),
            "query_tail_ms": (qt * 1000, "ms"),
            "query_per_s": (len(q) / sum(q), "1/s"),
            "ingest_p50_s": (stats.median([
                op["dt"] for op in ops if op["slot"] == "ingest.increment"]),
                "s"),
        })
    else:
        named["textops_pass_s"] = (stats.median(
            [sum(r) for r in by_round(ops, "textops.")]), "s")
    report["metrics"] = as_json(named)
    return m, report


def as_json(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    t_proc = process_start()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import guac_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        prepare_env(work)
        with tracing.RssSampler() as rss:
            rec = run(args, work, t_proc)
        metrics, report = end_to_end(args, rec, rss.peak_bytes)
        if args.trace:
            units = layers.metric_units()
            metrics = {k: (v, units[k]) for k, v in rec["per_layer"].items()}
            if args.workload == "kg":
                report["build_blocking_path"] = {
                    k: rec["per_layer"][f"build.pipeline.{k}"]
                    for k in ("wall_s", "stage_sum_s", "unattributed_s")}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": len(rec["ops"]),
        "failed": rec["failed"],
        "metrics": as_json(metrics),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
