"""Py4j round trips and seconds of driver lowering (plan building, no action).

Run from any directory:

    python scripts/lowering_roundtrips.py [passes]   # default 3

One ``local[<cores>]`` session; an untimed pass warms the JVM, then each
timed pass clears the plan cache and builds:

- ``zoo_first_visits``: the ``schema_zoo`` benchmark workload's timed cases
  up to the repeats (``layerbench.workloads``, seed 1), each through
  ``validate_json_column`` as its op does: all plan-cache misses;
- ``zoo_repeats``: the repeated cases after them: plan-cache hits;
- ``spans_best_miss``, ``violation_rows_best_miss`` and
  ``dataframe_miss``: the ``SPAN_SCHEMA`` chain and the forall plan
  (``validate_dataframe``) over a 2000-doc ``spans_documents`` table, each
  a miss.

Every py4j command the driver sends during a build is counted (the hook
wraps the gateway client's ``send_command``); ``deletes`` are the ones
releasing JVM objects whose Python proxies were garbage-collected, which
land wherever Python's collector runs, so they vary from pass to pass.
Prints one JSON line per timed pass, then a ``summary`` line with each
measure's range over the passes.
"""
import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import SparkSession  # noqa: E402

from json_schema_lean_spark import plan_cache  # noqa: E402
from json_schema_lean_spark.operators.validation import (  # noqa: E402
    validate_dataframe, validate_json_column, validate_spans_best,
    violation_rows_best)
from json_schema_lean_spark.sources.spansgen import (  # noqa: E402
    SPAN_SCHEMA, spans_documents)
from layerbench.workloads import ZOO_REPEATS, SchemaZoo  # noqa: E402


class RoundTrips:
    """Counts the commands sent through one py4j gateway client."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.n = self.deletes = 0
        send = self.client.send_command

        def counted(command, *args, **kwargs):
            self.n += 1
            self.deletes += command.startswith("m\nd\n")
            return send(command, *args, **kwargs)
        self.client.send_command = counted

    def measure(self, fn):
        n0, d0, t0 = self.n, self.deletes, time.perf_counter()
        fn()
        return self.n - n0, self.deletes - d0, time.perf_counter() - t0


def build_all(rt, builds):
    """(round trips, deletes, seconds, per-build seconds) over ``builds``."""
    got = [rt.measure(b) for b in builds]
    return (sum(g[0] for g in got), sum(g[1] for g in got),
            sum(g[2] for g in got), [g[2] for g in got])


def main(passes: int) -> None:
    spark = (SparkSession.builder
             .master(f"local[{len(os.sched_getaffinity(0))}]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    zoo = SchemaZoo(spark, seed=1)
    zoo.setup(None)
    zoo.prepare()
    start = 1 + zoo.WARMUP_OPS
    n_first = zoo.MIN_TIMED_OPS - ZOO_REPEATS
    frames = {}

    def case_builds(indices):
        out = []
        for i in indices:
            _key, schema_str, tests = zoo.cases[i]
            if i not in frames:
                frames[i] = spark.createDataFrame(
                    [(j, inst) for j, (inst, _e) in enumerate(tests)],
                    "i int, inst string")
            out.append(lambda df=frames[i], s=json.loads(schema_str):
                       validate_json_column(df, "inst", s,
                                            registry=zoo.registry))
        return out

    docs = spans_documents(spark, 2000)
    groups = {
        "zoo_first_visits": case_builds(zoo.order[start:start + n_first]),
        "zoo_repeats": case_builds(zoo.order[start + n_first:]),
        "spans_best_miss": [lambda: validate_spans_best(
            docs, SPAN_SCHEMA, keep_cols=["doc_id"])],
        "violation_rows_best_miss": [lambda: violation_rows_best(
            docs, SPAN_SCHEMA, id_cols=["doc_id"])],
        "dataframe_miss": [lambda: validate_dataframe(docs, SPAN_SCHEMA)],
    }
    warm = case_builds(zoo.order[:start])
    rt = RoundTrips(spark)
    results = []
    for p in range(passes + 1):
        plan_cache.clear()
        if p == 0:
            build_all(rt, warm)
        rec = {"pass": p}
        for name, builds in groups.items():
            if name.endswith("_miss"):
                plan_cache.clear()
            n, d, s, each = build_all(rt, builds)
            rec[name] = {"builds": len(builds), "round_trips": n,
                         "deletes": d, "seconds": round(s, 3),
                         "median_build_s": round(statistics.median(each), 4)}
        if p:
            results.append(rec)
            print(json.dumps(rec), flush=True)
    summary = {name: {k: [min(r[name][k] for r in results),
                          max(r[name][k] for r in results)]
                      for k in ("round_trips", "deletes", "seconds",
                                    "median_build_s")}
               for name in groups}
    print(json.dumps({"summary": summary, "passes": passes}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 3)
