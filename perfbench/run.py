"""Closed-loop benchmark of ``xarray_histogram_spark``, driven through its
public API from outside the engine.

    python3 perfbench/run.py --workload analyst_session --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout.  One client in one process sends its next
op only when the last one returns, against Spark ``local[k]`` with k =
usable cores and k shuffle partitions.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics (py4j
counts, spans around the engine's public calls, and the Spark event log
of every op's job group).  Every op's output is checked; the last stdout
line is one JSON object ``{correct, attempted, failed, metrics}``.

Exit code 2 (and no result) when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
HEAP = "1g"


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    if len(xs) < 2:
        return _median(xs)
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def start_spark(k: int, scratch: str, event_dir):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", HEAP)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(scratch, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        # a fixed-size heap: a growing one makes peak RSS depend on when
        # the collector chose to expand it
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}")
    )
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)


def jvm_hwm_kb(spark) -> int:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def corrupt(result):
    """A wrong result for the fault-injection test."""
    import numpy as np

    if isinstance(result, np.ndarray):
        out = result.copy()
        out.flat[0] = out.flat[0] + 1.0
        return out
    out = result.copy()
    last = out.iloc[0, -1]
    out.iloc[0, -1] = (not last) if out.dtypes.iloc[-1] == bool else last + 1
    return out


class Loop:
    """Runs ops, times them, checks them and keeps the record."""

    def __init__(self, w, tracer, traced: bool, fault) -> None:
        from perfbench import check

        self.check = check
        self.w = w
        self.tracer = tracer
        self.traced = traced
        self.fault = fault
        self.refs: dict = {}
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict] = []  # timed ops

    def op(self, shape, group: str, trace_on: bool, index=None) -> dict:
        w, tr = self.w, self.tracer
        if self.traced:
            w.spark.sparkContext.setJobGroup(group, group)
        w.before_op()
        tr.op_id, tr.enabled = group, trace_on
        c0 = tr.counter.n if trace_on else 0
        err = None
        start = time.time()
        t0 = time.perf_counter()
        try:
            out = w.run(shape)
        except Exception as e:  # counted, the run goes on
            err = e
        ms = (time.perf_counter() - t0) * 1e3
        end = time.time()
        tr.enabled = False
        py4j = tr.counter.n - c0 if trace_on else 0
        if err is None:
            try:
                got = w.collect(shape, out)
                if index is not None and index == self.fault:
                    got = corrupt(got)
                if shape not in self.refs:
                    self.check.expect(got, w.oracle(shape))
                    self.refs[shape] = got
                elif not self.check.same(got, self.refs[shape], exact=True):
                    raise self.check.Mismatch(f"{shape}: repeat differs")
            except Exception as e:
                err = e
        w.after_op(shape)
        self.attempted += 1
        if err is not None:
            self.failed += 1
            print(f"perfbench: op {group} ({shape}) failed: "
                  f"{type(err).__name__}: {err}"[:2000], file=sys.stderr)
        return {"shape": shape, "group": group, "ms": ms, "start": start,
                "end": end, "ok": err is None, "traced": trace_on,
                "py4j": py4j, "rows": w.rows(shape)}


def end_to_end(loop: Loop, setup_times, peak_kb: int) -> dict:
    ok = [o for o in loop.ops if o["ok"]]
    ms = [o["ms"] for o in ok]
    secs = sum(ms) / 1e3
    return {
        "setup_s": (_median(setup_times), "s"),
        "op_p50_ms": (_median(ms), "ms"),
        "op_p90_ms": (_p90(ms), "ms"),
        "rows_per_s": (sum(o["rows"] for o in ok) / secs if secs else 0.0,
                       "1/s"),
        "ok_ratio": (1.0 - loop.failed / max(loop.attempted, 1), "ratio"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }


def per_layer(loop: Loop, tracer, log, extend_bytes) -> dict:
    """Per-op medians over the timed ops (span figures over the traced
    ones); counts are exact."""
    per_op: dict[str, list] = {}

    def add(name, value):
        per_op.setdefault(name, []).append(value)

    for o in loop.ops:
        for k, v in log.op_figures(o["group"], o["start"], o["end"]).items():
            add(k, v)
        if not o["traced"]:
            continue
        spans = [s for s in tracer.spans if s["op"] == o["group"]]
        sums: dict = {}
        for s in spans:
            ms, n = sums.get(s["name"], (0.0, 0))
            sums[s["name"]] = (ms + s["ms"], n + s["py4j"])
            if s["name"] in ("plans.result.deliver", "plans.stats.stat"):
                self_ms = s["ms"] - log.covered_ms(o["group"], s["start"],
                                                   s["end"])
                add(s["name"] + "_self", self_ms)
        for name, (ms, n) in sums.items():
            add(name + "_ms", ms)
            add(name + "_py4j", n)
        if any(s["name"].startswith("operators.dedup.") for s in spans):
            add("operators.dedup.op_py4j", o["py4j"])

    def med(key):
        return _median(per_op.get(key, []))

    return {
        "plans.histogram.build_ms": (med("plans.histogram.build_ms"), "ms"),
        "plans.histogram.py4j_calls": (med("plans.histogram.build_py4j"),
                                       "count"),
        "plans.result.algebra_ms": (med("plans.result.algebra_ms"), "ms"),
        "plans.result.algebra_py4j_calls": (
            med("plans.result.algebra_py4j"), "count"),
        "plans.result.deliver_ms": (med("plans.result.deliver_ms"), "ms"),
        "plans.result.deliver_self_ms": (
            med("plans.result.deliver_self"), "ms"),
        "plans.stats.stat_ms": (med("plans.stats.stat_ms"), "ms"),
        "plans.stats.stat_self_ms": (med("plans.stats.stat_self"), "ms"),
        "catalyst.plan_ms": (med("catalyst.plan_ms"), "ms"),
        "exec.jobs": (med("exec.jobs"), "count"),
        "exec.stages": (med("exec.stages"), "count"),
        "exec.tasks": (med("exec.tasks"), "count"),
        "exec.job_ms": (med("exec.job_ms"), "ms"),
        "exec.driver_gap_ms": (med("exec.driver_gap_ms"), "ms"),
        "exec.task_run_ms": (med("exec.task_run_ms"), "ms"),
        "exec.task_cpu_ms": (med("exec.task_cpu_ms"), "ms"),
        "exec.task_wait_ms": (med("exec.task_wait_ms"), "ms"),
        "exec.gc_ms": (med("exec.gc_ms"), "ms"),
        "exec.shuffle_write_bytes": (med("exec.shuffle_write_bytes"), "B"),
        "exec.shuffle_read_bytes": (med("exec.shuffle_read_bytes"), "B"),
        "exec.spill_bytes": (med("exec.spill_bytes"), "B"),
        "exec.empty_task_ratio": (med("exec.empty_task_ratio"), "ratio"),
        "operators.dedup.build_ms": (med("operators.dedup.build_ms"), "ms"),
        "operators.dedup.py4j_calls": (med("operators.dedup.op_py4j"),
                                       "count"),
        "operators.dedup.probe_ms": (med("operators.dedup.probe_ms"), "ms"),
        "operators.dedup.extend_ms": (med("operators.dedup.extend_ms"), "ms"),
        "operators.dedup.extend_bytes_per_doc": (_median(extend_bytes), "B"),
        "sources.read_ms": (med("sources.read_ms"), "ms"),
        "trace.overhead_pct": (overhead_pct(loop.ops), "%"),
    }


def overhead_pct(ops) -> float:
    """Traced against untraced op time in the same run.  Timed ops
    alternate between the two; the ratio of medians is taken per shape
    where a shape has both, and over all ops otherwise."""
    ok = [o for o in ops if o["ok"]]
    ratios = []
    for shape in {o["shape"] for o in ok}:
        t = [o["ms"] for o in ok if o["shape"] == shape and o["traced"]]
        u = [o["ms"] for o in ok if o["shape"] == shape and not o["traced"]]
        if t and u:
            ratios.append(_median(t) / _median(u))
    if not ratios:
        t = [o["ms"] for o in ok if o["traced"]]
        u = [o["ms"] for o in ok if not o["traced"]]
        if not (t and u):
            return 0.0
        ratios = [_median(t) / _median(u)]
    return (_median(ratios) - 1.0) * 100.0


def run(args, scratch: str) -> dict:
    import numpy as np

    from perfbench import trace, workloads

    k = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(scratch, "data"))
    # keep every file Python, the Spark launcher and the JVM write inside
    # the scratch dir (hsperfdata would otherwise go to /tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    event_dir = os.path.join(scratch, "eventlog") if traced else None
    if event_dir:
        os.makedirs(event_dir)

    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 2)
        t_phase = now

    spark = start_spark(k, scratch, event_dir)
    phase("spark_start")
    ctx = None
    try:
        counter = (trace.Py4JCounter(spark.sparkContext._gateway._gateway_client)
                   if traced else None)
        tracer = trace.Tracer(counter)
        ctx = workloads.Ctx(spark, tracer, os.path.join(scratch, "data"),
                            args.seed, args.size, k)
        w = workloads.WORKLOADS[args.workload](ctx)
        w.prepare()
        phase("prepare")
        if traced:
            spark.sparkContext.setJobGroup("setup", "setup")
        setup_times = []
        for i in range(SETUP_REPS):
            if i:
                w.teardown()
            t0 = time.perf_counter()
            w.setup()
            setup_times.append(time.perf_counter() - t0)
        w.ready()
        phase("setup")

        loop = Loop(w, tracer, traced, args.inject_fault)
        warm = [s for _ in range(w.warm_rounds) for s in w.shapes()]
        for j, shape in enumerate(warm):
            loop.op(shape, f"warm-{j}", False)
        phase("warm_up")

        rng = np.random.default_rng([args.seed, 0])
        order = w.order(rng)
        deadline = time.perf_counter() + args.seconds
        i = 0
        # the deadline ends the loop only at a block boundary, so every
        # run times the same mix of shapes
        while i % w.block or time.perf_counter() < deadline:
            # traced runs alternate traced and untraced ops for
            # trace.overhead_pct; the i // 4 term flips the pattern every
            # four ops, so each shard of a dedup cycle is seen both ways
            trace_on = traced and (i + i // 4) % 2 == 0
            loop.ops.append(loop.op(next(order), f"op-{i}", trace_on, i))
            i += 1
        peak_kb = jvm_hwm_kb(spark) + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss
        phase("timed")
    finally:
        if ctx is not None:
            ctx.close()
        stop_spark(spark)
    phase("stop")

    context = {
        "workload": args.workload, "seed": args.seed, "nproc": k,
        "loadavg": os.getloadavg(), "timed_ops": len(loop.ops),
        "setup_s": setup_times, "phases_s": phases,
        "op_ms": [(o["shape"], round(o["ms"], 1)) for o in loop.ops],
    }
    if traced:
        log = trace.EventLog(event_dir)
        metrics = per_layer(loop, tracer, log, w.extend_bytes)
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(spans)
        context["spans"] = os.path.relpath(spans, ROOT)
    else:
        metrics = end_to_end(loop, setup_times, peak_kb)
    print(json.dumps({"context": context}))
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--inject-fault", type=int, default=None, metavar="I",
                    help="corrupt the result of timed op I (tests only)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import xarray_histogram_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import xarray_histogram_spark from {ROOT}: "
              f"{e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    scratch = os.path.join(ROOT, ".perfbench",
                           f"run-{args.workload}-{args.seed}-{os.getpid()}")
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
