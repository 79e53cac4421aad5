"""Benchmark entry point.

    python3 perfbench/run.py --workload fold --seed 1 --seconds 5 --trace 0

Starts ``gemmsql.get_spark`` on ``local[<cpus>]`` in this one process,
generates the workload's inputs from ``--seed`` under ``.bench_work/``
in the checkout, sets up three times, makes one warm-up call of every
kind (``setup_s`` is the median set-up plus that warm-up pass), runs
the workload as a closed loop for ``--seconds`` (rounded up to a whole
cycle), checks every result outside the timed window, and prints one
JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is the
traced run: Spark's event log on, one job group and one in-memory span
per public call; it reports the per-layer metrics and writes its spans
to ``.bench_out/``.  The tracing overhead is the difference between the
two runs of one seed (see ``overhead.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_ROUNDS = 3
#: driver JVM heap.  The engine's 16g default exceeds small machines,
#: and the workloads' inputs are a few MB
DRIVER_MEM = "1g"


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> dict[str, str]:
    """Size the session for this machine through the engine's public
    knobs, and keep every temporary directory inside ``work``."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "GEMMSQL_DRIVER_MEM": DRIVER_MEM,
        # Python workers import gemmsql from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # spark-submit's launcher JVM: no hsperfdata file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def spark_conf(work: str, trace: bool, rnd: int) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched at start, so the JVM's
        # resident memory does not depend on when the heap grew; no
        # hsperfdata file under /tmp; JVM temp files inside ``work``
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        events = os.path.join(work, "events", f"r{rnd}")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        })
    return conf


class Record:
    """Outcome of one call: its timings and result, or its error."""

    def __init__(self, call, group: str):
        self.call = call
        self.group = group
        self.plan_s = self.exec_s = 0.0
        self.result = None
        self.error: str | None = None
        self.ok: bool | None = None

    @property
    def latency(self) -> float:
        return self.plan_s + self.exec_s

    def judge(self) -> bool:
        if self.ok is None:
            try:
                self.ok = self.error is None and bool(self.call.check(self.result))
            except Exception:
                self.error = traceback.format_exc()
                self.ok = False
            if not self.ok:
                print(f"FAILED {self.group}: {self.error or 'wrong result'}",
                      file=sys.stderr)
        return self.ok


class Runner:
    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer

    def run(self, call, group: str) -> Record:
        """Make one call: the public call (``plan_s``), then its action
        (``exec_s``).  The traced run tags the call's jobs with a job
        group and records its spans from the same clock readings."""
        rec = Record(call, group)
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(group, call.name)
        t0 = t1 = time.perf_counter()
        try:
            out = call.plan()
            t1 = time.perf_counter()
            rec.result = call.act(out)
        except Exception:
            rec.error = traceback.format_exc()
        t2 = time.perf_counter()
        if rec.error is None:
            rec.plan_s, rec.exec_s = t1 - t0, t2 - t1
        else:
            rec.plan_s = t2 - t0
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup("bench", "benchmark bookkeeping")
            span = self.tracer.add(call.name, t0, t2)
            self.tracer.add("plan", t0, t1, span)
            self.tracer.add("exec", t1, t2, span)
        return rec


def stop_jvm() -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on end of input
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def run(args, work: str) -> dict:
    import numpy as np

    from gemmsql import get_spark
    from perfbench import eventlog, layers, measure
    from perfbench.workloads import WORKLOADS

    trace = bool(args.trace)
    wl = WORKLOADS[args.workload](args.seed)
    wl.probe_pruning = trace
    tracer = measure.Tracer() if trace else None
    setup_s, session_s, checked = [], [], []
    for rnd in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}",
                          extra_conf=spark_conf(work, trace, rnd))
        session_s.append(time.perf_counter() - t0)
        runner = Runner(spark, None)
        wl.prepare(spark, os.path.join(work, f"setup{rnd}"))
        for call in wl.first_calls():
            checked.append(runner.run(call, f"setup{rnd}:{call.name}"))
        setup_s.append(time.perf_counter() - t0)
        if rnd < SETUP_ROUNDS - 1:
            spark.stop()
    # set-up ends with one call of every kind: the first call of a kind
    # in a session runs colder than the rest
    t0 = time.perf_counter()
    for call in wl.warm_pass(os.path.join(work, "warm")):
        checked.append(runner.run(call, f"warm:{call.name}"))
    warm_s = time.perf_counter() - t0

    runner = Runner(spark, tracer)
    wl.begin(work)
    records: list[Record] = []
    with measure.PeakMemory(jvm_pid()) as mem:
        t_start = time.perf_counter()
        while True:
            for call in wl.cycle():
                records.append(runner.run(call, f"{call.name}#{len(records)}"))
            if time.perf_counter() - t_start >= args.seconds:
                break
        window_s = time.perf_counter() - t_start

    extra = [runner.run(c, f"{c.name}#traced") for c in wl.traced_calls()] if trace else []
    finals = wl.final_checks()
    disk_per_row = wl.disk_bytes_per_row()
    counts = wl.layer_counts() if trace else {}

    oks = [r.judge() for r in records + checked + extra] + finals
    attempted, failed = len(oks), oks.count(False)
    timed = [r for r in records if r.error is None]
    lat = [r.latency for r in timed]
    busy = sum(lat) or float("nan")
    e2e = {
        "setup_s": (float(np.median(setup_s)) + warm_s, "s"),
        "op_p50_s": (measure.percentile(lat, 50), "s"),
        "op_p90_s": (measure.percentile(lat, 90), "s"),
        "rows_per_s": (sum(r.call.rows for r in timed) / busy, "rows/s"),
        "cells_per_s": (sum(r.call.cells for r in timed) / busy, "cells/s"),
        "peak_rss_mb": (mem.peak_mb, "MB"),
        "disk_bytes_per_row": (disk_per_row, "B/row"),
        "ok_frac": (1.0 - failed / attempted, "fraction"),
    }
    tail = measure.tail_percentile(len(lat))
    tail_txt = (f"p{tail:g}={measure.percentile(lat, tail):.4f}s" if tail
                else "none (fewer than 20 calls)")
    print(f"workload={args.workload} seed={args.seed} calls={len(records)} "
          f"window_s={window_s:.2f} setup_rounds_s={[round(s, 3) for s in setup_s]} "
          f"warm_pass_s={warm_s:.3f} "
          f"tail_with_10_beyond={tail_txt}")
    for name in dict.fromkeys(r.call.name for r in records):
        mine = [r for r in timed if r.call.name == name]
        print(f"  {name}: latency_s={[round(r.latency, 3) for r in mine]}")
    for name, (v, unit) in e2e.items():
        print(f"  {name} = {v:.6g} {unit}")

    metrics = e2e
    if trace:
        spark.stop()
        groups = eventlog.read_groups(os.path.join(work, "events", f"r{SETUP_ROUNDS - 1}"))
        tracer.dump(os.path.join(ROOT, ".bench_out",
                                 f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = layers.per_layer(records, extra, groups, session_s, counts,
                                   e2e["op_p50_s"][0])
        for name, (v, unit) in metrics.items():
            print(f"  {name} = {v:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "gemmsql", "session.py")):
        print(f"no gemmsql package beside {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = configure_env(work)
    print(f"SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} "
          f"GEMMSQL_DRIVER_MEM={env['GEMMSQL_DRIVER_MEM']} work={work}")
    try:
        result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
