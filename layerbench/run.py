"""Layered validation benchmark for json_schema_lean_spark.

Run from the root of a checkout:

    python3 layerbench/run.py --workload spans_scan --seed 1 --seconds 15 --trace 0

One closed-loop client drives one Spark session at ``local[<cores>]``.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run traces every timed op
and writes its spans to ``.layerbench/traces/``. See NOTES.md for the
workloads, the metrics and the layer each one watches.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

#: a run that cannot reach its workload's MIN_TIMED_OPS by then fails
#: loudly
HARD_STOP_S = 100.0
SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: Path):
    """One local session sized for a small shared box. Python workers get
    the checkout on PYTHONPATH (the interpreter route imports the library
    inside them); every scratch path Spark and the JVM use stays in the
    run directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    from pyspark.sql import SparkSession
    n = cores()
    spark = (SparkSession.builder.master(f"local[{n}]")
            .appName("layerbench")
            # a fixed, pre-touched heap: peak RSS then tracks what the run
            # adds beyond it (code cache, metaspace, direct buffers, Python
            # workers) instead of when G1 chose to grow the heap
            .config("spark.driver.memory", "2g")
            .config("spark.driver.extraJavaOptions",
                    f"-Xms2g -XX:+AlwaysPreTouch "
                    f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", str(tmp))
            .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
            .config("spark.sql.shuffle.partitions", str(2 * n))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            # executed-plan strings are parsed for plan-shape counts;
            # the default of 25 fields truncates wide projections
            .config("spark.sql.debug.maxToStringFields", "100000")
            .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, then wait until every process
    this run started (JVM, Python daemon and workers) has ended."""
    import subprocess

    from pyspark import SparkContext

    from layerbench.core import descendants, proc_table
    started = descendants(os.getpid(), proc_table())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# -- traced-run probes ------------------------------------------------------

def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime()
                     for i in range(beans.size())))


_SQL_METRICS = (("scanTime", "scan_time_ms"),
                ("pipelineTime", "wscg_duration_ms"),
                ("shuffleBytesWritten", "shuffle_bytes_written"))


def sql_metrics(plan) -> dict[str, float]:
    """Sum selected SQL metrics over an executed plan, descending through
    adaptive plans and query stages."""
    out = {name: 0.0 for _k, name in _SQL_METRICS}
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for key, name in _SQL_METRICS:
            m = metrics.get(key)
            if m.isDefined():
                out[name] += m.get().value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def tasks_seconds(spark, group: str) -> float:
    """Wall seconds from first task launch to completion, summed over the
    stages of the op's jobs (from Spark's status store)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    total = 0.0
    for job in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job)
        for sid in (info.stageIds if info else ()):
            st = store.lastStageAttempt(sid)
            first, done = st.firstTaskLaunchedTime(), st.completionTime()
            if first.isDefined() and done.isDefined():
                total += (done.get().getTime() - first.get().getTime()) / 1e3
    return total


def _add(rec: dict, key: str, value: float) -> None:
    rec[key] = rec.get(key, 0) + value


def probe(spark, op, rec: dict) -> None:
    """Per-layer numbers for one traced op, taken after it finished."""
    from json_schema_lean_spark.parallelism import scale_partitions

    from layerbench.core import plan_shape
    rec["tasks_s"] = tasks_seconds(spark, f"layerbench-op-{rec['op_id']}")
    for df in op.dfs:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            got = phases.get(ph)
            if got.isDefined():
                _add(rec, f"{ph}_ms", float(got.get().durationMs()))
        executed = qe.executedPlan()
        for k, v in {**plan_shape(executed.toString()),
                     **sql_metrics(executed)}.items():
            _add(rec, k, v)
    if op.lower is not None:
        layer, fn = op.lower
        t0 = time.perf_counter()
        fn()
        rec[f"{layer}_lower_s"] = time.perf_counter() - t0
    if op.scale_input is not None:
        t0 = time.perf_counter()
        scale_partitions(op.scale_input)
        rec["scale_partitions_s"] = time.perf_counter() - t0
    if "reports" in op.extra:
        killed, resumed = op.extra["reports"]
        rec["warmup_s"] = killed.warmup_sec + resumed.warmup_sec
        rec["units_skipped"] = resumed.units_skipped


def _med(recs: list[dict], key: str) -> float:
    vals = [r[key] for r in recs if key in r]
    return statistics.median(vals) if vals else 0.0


def _mean(recs: list[dict], key: str) -> float:
    vals = [r[key] for r in recs if key in r]
    return sum(vals) / len(vals) if vals else 0.0


def layer_metrics(recs: list[dict], first_op_s: float, setup: dict) -> dict:
    """Per-layer metrics from the traced (timed) ops' records. ``op.tail_s``
    and ``op.tail_pct`` read 0 when there are too few ops for the tail
    rule."""
    from layerbench.core import TAIL_BEYOND, tail_latency
    hits = sum(r["hits"] for r in recs)
    misses = sum(r["misses"] for r in recs)
    op_total = sum(r["op_s"] for r in recs)
    catalyst = sum(r.get("analysis_ms", 0) + r.get("optimization_ms", 0)
                   + r.get("planning_ms", 0) for r in recs) / 1e3
    tasks = sum(r["tasks_s"] for r in recs)
    lowering = sum(r.get("build_s", 0) for r in recs)
    # the library's own actions: collect() or a checkpointed run()
    action_total = sum(r.get("action_s", 0) + r.get("checkpoint_run_s", 0)
                       for r in recs)
    p50 = statistics.median(r["op_s"] for r in recs)
    tail, tail_pct, _n = (tail_latency([r["op_s"] for r in recs])
                          if len(recs) > TAIL_BEYOND else (0.0, 0.0, 0))
    return {
        "setup.session_s": (setup["session_s"], "s"),
        "setup.data_s": (setup["data_s"], "s"),
        "setup.data_cold_s": (setup["data_cold_s"], "s"),
        "op.count": (len(recs), "count"),
        "op.tail_s": (tail, "s"),
        "op.tail_pct": (tail_pct, "%"),
        "lowering.build_s": (_med(recs, "build_s"), "s"),
        "compiler.lower_s": (_med(recs, "compiler_lower_s"), "s"),
        "variant.lower_s": (_med(recs, "variant_lower_s"), "s"),
        "plan_cache.hits": (hits, "count"),
        "plan_cache.misses": (misses, "count"),
        "plan_cache.hit_ratio": (hits / (hits + misses) if hits + misses
                                 else 0.0, "ratio"),
        "parallelism.scale_partitions_s": (_med(recs, "scale_partitions_s"),
                                           "s"),
        "catalyst.analysis_ms": (_med(recs, "analysis_ms"), "ms"),
        "catalyst.optimization_ms": (_med(recs, "optimization_ms"), "ms"),
        "catalyst.planning_ms": (_med(recs, "planning_ms"), "ms"),
        "plan.lambda_count": (_mean(recs, "lambda_count"), "count"),
        "plan.exchange_count": (_mean(recs, "exchange_count"), "count"),
        "plan.python_eval_count": (_mean(recs, "python_eval_count"), "count"),
        "plan.schema_of_variant_count": (_mean(recs,
                                               "schema_of_variant_count"),
                                         "count"),
        "plan.rlike_count": (_mean(recs, "rlike_count"), "count"),
        "exec.action_s": (_med(recs, "action_s"), "s"),
        "exec.tree_cpu_s": (_med(recs, "tree_cpu_s"), "s"),
        "exec.tasks_s": (_med(recs, "tasks_s"), "s"),
        "exec.cpu_util": (sum(r.get("tree_cpu_s", 0) for r in recs)
                          / (action_total * cores()) if action_total else 0.0,
                          "ratio"),
        "exec.scan_time_ms": (_med(recs, "scan_time_ms"), "ms"),
        "exec.wscg_duration_ms": (_med(recs, "wscg_duration_ms"), "ms"),
        "exec.shuffle_bytes_written": (_med(recs, "shuffle_bytes_written"),
                                       "bytes"),
        "interpreter.route_share": (
            sum(r.get("python_eval_count", 0) > 0 for r in recs) / len(recs),
            "ratio"),
        "checkpointing.run_s": (_med(recs, "checkpoint_run_s"), "s"),
        "checkpointing.bytes_written_per_doc": (
            _med(recs, "bytes_written_per_doc"), "bytes"),
        "checkpointing.units_skipped": (_mean(recs, "units_skipped"),
                                        "count"),
        "checkpointing.warmup_s": (_med(recs, "warmup_s"), "s"),
        "jvm.gc_ms": (_med(recs, "gc_ms"), "ms"),
        "jvm.first_op_s": (first_op_s, "s"),
        "jvm.jit_ramp_s": (first_op_s - p50, "s"),
        "op_share.lowering": (lowering / op_total, "ratio"),
        "op_share.catalyst": (catalyst / op_total, "ratio"),
        "op_share.exec_tasks": (tasks / op_total, "ratio"),
        "op_share.driver_other": (
            (op_total - lowering - catalyst - tasks) / op_total, "ratio"),
        "trace.op_p50_s": (p50, "s"),
        "trace.overhead_s": (_med(recs, "trace_s"), "s"),
    }


# -- the run ----------------------------------------------------------------

def run_op(wl, i: int, tr, log, notes: list):
    """One closed-loop op; returns (op or None, seconds). An op that raises
    or returns a wrong result is a failed op and the loop goes on."""
    t = time.perf_counter()
    try:
        with tr.span("op", i):
            op = wl.op(i, tr, i)
        seconds = time.perf_counter() - t
        rec = log.record(op.kind, seconds, op.docs, op.mismatch)
    except Exception as e:  # noqa: BLE001 - recorded and printed
        seconds = time.perf_counter() - t
        rec = log.record("error", seconds, 0, repr(e)[:500])
        op = None
    if not rec.ok:
        notes.append(f"FAILED op {i} ({rec.kind}): {rec.detail}")
    if op is not None and hasattr(wl, "cleanup"):
        written = wl.cleanup(op)
        if written is not None:
            op.extra["bytes"] = written
    return op, seconds


_SPAN_KEYS = {"lowering.build": "build_s", "exec.action": "action_s",
              "checkpointing.run": "checkpoint_run_s"}


def traced_op(spark, wl, i: int, tr, log, notes: list):
    """run_op under tracing; returns its per-layer record, or None when the
    op raised."""
    from json_schema_lean_spark.plan_cache import stats
    h0, m0 = stats["hits"], stats["misses"]
    g0 = gc_ms(spark)
    own0 = tr.own_s
    spark.sparkContext.setJobGroup(f"layerbench-op-{i}", "")
    try:
        op, seconds = run_op(wl, i, tr, log, notes)
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    if op is None:
        return None
    h1, m1 = stats["hits"], stats["misses"]
    r = {"op_id": i, "op_s": seconds, "gc_ms": gc_ms(spark) - g0,
         "hits": h1 - h0, "misses": m1 - m0, "trace_s": tr.own_s - own0}
    for sp in tr.spans:
        if sp.op_id != i:
            continue
        if sp.name in _SPAN_KEYS:
            _add(r, _SPAN_KEYS[sp.name], sp.seconds)
        if "tree_cpu_s" in sp.attrs:
            _add(r, "tree_cpu_s", sp.attrs["tree_cpu_s"])
    if "bytes" in op.extra:
        r["bytes_written_per_doc"] = op.extra["bytes"] / wl.rows
    with tr.span("probe", i):
        probe(spark, op, r)
    return r


def run(args, run_dir: Path) -> tuple[str, list[str]]:
    """Returns the result line and human-readable notes for stderr.

    Phases: session start; SETUP_REPS timed data set-ups; the untimed
    reference results; the cold first op; untimed warm-up ops for the
    workload's WARMUP_OPS (the JIT ramp, which first_op_s and
    jvm.jit_ramp_s report); then the timed closed loop, for --seconds and
    at least the workload's MIN_TIMED_OPS."""
    from layerbench.core import TAIL_BEYOND, OpLog, RssSampler, Tracer, \
        end_to_end, result_line, tail_latency
    from layerbench.workloads import WORKLOADS

    notes: list[str] = []
    log, tr = OpLog(), Tracer(False)
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, args.seed)
            data_times = []
            for k in range(SETUP_REPS):
                workdir = run_dir / f"data-{k}"
                t = time.perf_counter()
                wl.setup(str(workdir))
                data_times.append(time.perf_counter() - t)
                if k + 1 < SETUP_REPS:
                    shutil.rmtree(workdir, ignore_errors=True)
            setup = {"session_s": session_s,
                     "data_s": statistics.median(data_times),
                     "data_cold_s": data_times[0]}
            t = time.perf_counter()
            wl.prepare()
            notes.append(f"session {session_s:.2f} s, data set-up "
                         + ", ".join(f"{x:.2f}" for x in data_times)
                         + f" s, prepare {time.perf_counter() - t:.2f} s")

            _op, first_op_s = run_op(wl, 0, tr, log, notes)
            t = time.perf_counter()
            for i in range(1, 1 + wl.WARMUP_OPS):
                run_op(wl, i, tr, log, notes)
            notes.append(f"warm-up: {wl.WARMUP_OPS} ops in "
                         f"{time.perf_counter() - t:.2f} s")
            i = 1 + wl.WARMUP_OPS

            timed, recs = [], []
            tr.enabled = bool(args.trace)
            loop_start = time.perf_counter()
            while True:
                elapsed = time.perf_counter() - loop_start
                if len(timed) >= wl.MIN_TIMED_OPS and elapsed >= args.seconds:
                    break
                if elapsed >= HARD_STOP_S:
                    raise RuntimeError(
                        f"only {len(timed)} timed ops in {elapsed:.0f} s")
                if tr.enabled:
                    r = traced_op(spark, wl, i, tr, log, notes)
                    if r is not None:
                        recs.append(r)
                else:
                    run_op(wl, i, tr, log, notes)
                timed.append(log.ops[-1])
                i += 1
            if args.trace:
                metrics = layer_metrics(recs, first_op_s, setup)
                trace_dir = ROOT / ".layerbench" / "traces"
                trace_dir.mkdir(parents=True, exist_ok=True)
                path = trace_dir / f"{args.workload}-seed{args.seed}.jsonl"
                tr.dump(str(path))
                notes.append(f"spans: {path.relative_to(ROOT)}")
        finally:
            t = time.perf_counter()
            stop_session(spark)
            notes.append(f"stop {time.perf_counter() - t:.2f} s")
    if not args.trace:
        metrics = end_to_end(timed, setup["session_s"] + setup["data_s"],
                             rss.peak_mb)
    notes.append(f"first op {first_op_s:.3f} s")
    if len(timed) > TAIL_BEYOND:
        v, pct, n = tail_latency([r.seconds for r in timed])
        notes.append(f"tail: p{pct:.1f} of {n} timed ops is {v:.3f} s")
    notes.append("op seconds: " + " ".join(f"{r.seconds:.3f}"
                                           for r in log.ops))
    notes.append(f"{log.attempted} ops, {log.failed} failed; kinds: "
                 + ", ".join(sorted({r.kind for r in log.ops})))
    line = result_line(log.failed == 0, log.attempted, log.failed, metrics)
    return line, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("json_schema_lean_spark", "__spark_entry__.py",
                           "fixtures/suite") if not (ROOT / p).exists()]
    if missing:
        print(f"layerbench: not a checkout of the engine (missing "
              f"{', '.join(missing)})", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from layerbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"layerbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so Spark is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    run_dir = ROOT / ".layerbench" / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        line, notes = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for n in notes:
        print(n, file=sys.stderr)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
