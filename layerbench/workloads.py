"""The workloads, each a closed loop over one Spark session.

A workload has a timed ``setup`` (repeated; the median is ``setup_s``), an
untimed ``prepare`` for reference results, and ``op`` — one closed-loop
operation through the public entry points of ``json_schema_lean_spark``.
``op`` returns an :class:`Op`: the op kind, how many docs it validated, a
mismatch string when the result is wrong, and handles the traced run uses
to probe the layers after the op (never inside its timing).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_schema_lean_spark.checkpointing import CheckpointedValidation
from json_schema_lean_spark.compiler import ColumnarCompiler, CompileFallback
from json_schema_lean_spark.metaschema import META_REGISTRY
from json_schema_lean_spark.operators.validation import (
    validate_json_column,
    validate_spans_best,
    violation_rows_best,
)
from json_schema_lean_spark.resolver import SchemaCycleError
from json_schema_lean_spark.sources.spansgen import SPAN_SCHEMA, spans_documents
from json_schema_lean_spark.variant import VariantCompiler

from .core import Tracer, tree_usage


@dataclass
class Op:
    kind: str
    docs: int
    mismatch: Optional[str] = None
    #: the DataFrames whose actions ran (their QueryExecutions hold the
    #: Catalyst phases, executed plans and SQL metrics)
    dfs: list = field(default_factory=list)
    #: (layer, fn): fn rebuilds the op's lowering with a compiler directly
    lower: Optional[tuple[str, Callable[[], Any]]] = None
    #: input of the library's internal parallelism.scale_partitions call
    scale_input: Optional[DataFrame] = None
    extra: dict = field(default_factory=dict)


def _tree_cpu(tr: Tracer) -> float:
    t0 = time.perf_counter()
    cpu = tree_usage(os.getpid())[1]
    tr.charge(time.perf_counter() - t0)
    return cpu


@contextmanager
def cpu_span(tr: Tracer, name: str, op_id: int):
    """A span that also records the process tree's CPU seconds across it
    (JVM, Python workers and this process) when tracing."""
    with tr.span(name, op_id) as sp:
        cpu0 = _tree_cpu(tr) if sp else 0.0
        yield
        if sp:
            sp.attrs["tree_cpu_s"] = _tree_cpu(tr) - cpu0


def action(tr: Tracer, op_id: int, df: DataFrame) -> list:
    with cpu_span(tr, "exec.action", op_id):
        return df.collect()


def span_lowering(df: DataFrame) -> tuple[str, Callable[[], Any]]:
    """The columnar compile of SPAN_SCHEMA against ``df``'s row type, up to
    its verdict Column, as a direct compiler call."""
    return ("compiler", lambda: ColumnarCompiler(SPAN_SCHEMA)
            .lower(df.schema).valid(F.struct(*df.columns)))


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers, outside Spark."""
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet").count_rows()


def _mismatch(what: str, got: Any, want: Any) -> Optional[str]:
    return None if got == want else f"{what}: got {got!r}, want {want!r}"


class SpansScan:
    """The north-rule spans table, validated three ways per op: fused
    verdicts, violation rows, and a checkpointed run that is killed after
    one unit and resumed."""

    name = "spans_scan"
    #: untimed ops before the timed loop: in a fresh JVM, ops fall from
    #: about 4.5 s to 3-3.5 s over the first two or three after the cold
    #: one, and over more of them while the host is slow
    WARMUP_OPS = 3
    #: at 3-4 s an op, 18-24 s of timed ops, longer than a 15 s run: a
    #: fixed count rather than a time keeps a slow run's median as far
    #: from the ramp as a fast one's
    MIN_TIMED_OPS = 6
    N_DOCS = 200_000
    #: parquet files the table is written as; a checkpointed run takes
    #: FILES_PER_UNIT of them per unit
    FILES = 8
    FILES_PER_UNIT = 4
    KILL_AFTER_UNITS = 1
    #: validation passes over the table in one op
    PASSES = 3

    def __init__(self, spark: SparkSession, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.ref: dict[str, tuple] = {}

    def setup(self, workdir: str) -> None:
        self.workdir = workdir
        self.path = f"{workdir}/spans"
        spans_documents(self.spark, self.N_DOCS, seed=self.seed,
                        partitions=self.FILES).write.parquet(self.path)

    def prepare(self) -> None:
        self.df = self.spark.read.parquet(self.path)
        self.rows = parquet_rows(self.path)

    def _check(self, kind: str, got: tuple) -> Optional[str]:
        want = self.ref.setdefault(kind, got)
        return _mismatch(kind, got, want)

    def op(self, i: int, tr: Tracer, op_id: int) -> Op:
        """Verdicts, violation rows, then a checkpointed run: killed after
        KILL_AFTER_UNITS units, then resumed by a fresh
        CheckpointedValidation over the same output directory."""
        with tr.span("lowering.build", op_id):
            v = validate_spans_best(self.df, SPAN_SCHEMA, keep_cols=["doc_id"])
        verdict = v.agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("valid").cast("long")).alias("valid"))
        r = action(tr, op_id, verdict)[0]
        n_valid = r["valid"]
        got = (r["n"], n_valid)
        bad = self._check("verdict", got) or (
            None if r["n"] == self.rows and 0 < n_valid < r["n"]
            else f"verdict: {got} over {self.rows} rows")
        with tr.span("lowering.build", op_id):
            v = violation_rows_best(self.df, SPAN_SCHEMA, id_cols=["doc_id"])
        viols = v.agg(F.count(F.lit(1)).alias("n"))
        n = action(tr, op_id, viols)[0]["n"]
        bad = bad or self._check("violations", (n,)) or (
            None if n >= self.rows - n_valid
            else f"violations: {n} rows for {self.rows - n_valid} "
                 f"invalid docs")

        out_dir = f"{self.workdir}/ckpt-{i}"
        reports = []
        for max_units in (self.KILL_AFTER_UNITS, None):
            cv = CheckpointedValidation(
                self.spark, self.path, SPAN_SCHEMA, out_dir,
                files_per_unit=self.FILES_PER_UNIT, run_id=f"run-{i}")
            with cpu_span(tr, "checkpointing.run", op_id):
                reports.append(cv.run(max_units=max_units))
        killed, resumed = reports
        committed = sum(e["rows_scanned"] for e in cv.manifest())
        bad = (bad
               or _mismatch("units before the kill", killed.units_processed,
                            self.KILL_AFTER_UNITS)
               or _mismatch("units skipped on resume", resumed.units_skipped,
                            killed.units_processed)
               or _mismatch("committed rows", committed, self.rows)
               or _mismatch("rows over both runs",
                            killed.rows + resumed.rows, self.rows)
               or _mismatch("checkpointed valid rows",
                            killed.valid + resumed.valid, n_valid))
        return Op("spans", self.PASSES * self.rows, bad, [verdict, viols],
                  span_lowering(self.df), None,
                  {"reports": reports, "out_dir": out_dir})

    def cleanup(self, op: Op) -> Optional[int]:
        """Bytes the checkpointed runs wrote, then remove them (outside the
        op timing)."""
        out_dir = op.extra["out_dir"]
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _s, fs in os.walk(out_dir) for f in fs)
        shutil.rmtree(out_dir, ignore_errors=True)
        return size


def suite_cases(rows: list) -> list[tuple[str, str, list]]:
    """Group ``_load_suite_verdicts`` rows into cases:
    ``(case_key, schema_json_str, [(instance_json_str, expected)])``."""
    cases: dict[str, tuple] = {}
    for test_id, schema_str, inst, expected in rows:
        key = test_id.rsplit("/", 1)[0]
        cases.setdefault(key, (key, schema_str, []))[2].append(
            (inst, expected))
    return list(cases.values())


#: timed suite cases besides ZOO_INTERPRETER_CASE, each with its own
#: schema, spread evenly over the suite in file order
ZOO_POPULATION = 34
#: population cases visited twice (plan_cache hits)
ZOO_REPEATS = 4
#: the smallest-schema suite case outside the VARIANT subset (a pattern
#: with ``\d``/``\w``, which Java regexes match differently): its op runs
#: the Arrow interpreter, which no other population case reaches
ZOO_INTERPRETER_CASE = "keywords_as_data/6"
#: suite cases that took over 2 s per warm op in a pass over all 320 on a
#: 4-core box (NOTES.md lists the times); each would be a large share of a
#: run's timed ops, so none is timed
ZOO_SLOW = frozenset({
    "core/7", "core/17", "core/42", "edge/15", "interactions/9",
    "interactions/12", "keywords_as_data/3", "ref_escapes/5",
    "definitions/0", "ref/0", "uniqueItems/0", "uniqueItems/1"})


def zoo_order(cases: list, warmup_ops: int, seed: int) -> list[int]:
    """Case indices for one run: the cold op and the warm-up ops, then the
    timed ops.

    The timed ops are the same multiset for every seed, in seeded order:
    ZOO_POPULATION cases spread evenly over the suite (ZOO_SLOW left out)
    and ZOO_INTERPRETER_CASE, then a second visit of the ZOO_REPEATS
    population cases with the smallest schemas. Every case before the
    repeats has a schema of its own, so the first visits are plan_cache
    misses and the repeats hits (the cache keeps 64 plans, more than a run
    builds). The cold and warm-up ops use the smallest other schemas."""
    rng = random.Random(seed)
    interp = next(i for i, c in enumerate(cases)
                  if c[0] == ZOO_INTERPRETER_CASE)
    seen = {cases[interp][1]}
    fast = []
    for i, (key, schema, _t) in enumerate(cases):
        if key not in ZOO_SLOW and schema not in seen:
            seen.add(schema)
            fast.append(i)
    population = [fast[j * len(fast) // ZOO_POPULATION]
                  for j in range(ZOO_POPULATION)]
    by_size = sorted(population, key=lambda i: (len(cases[i][1]), i))
    pool = sorted((i for i in fast if i not in population),
                  key=lambda i: (len(cases[i][1]), i))[:2 * (warmup_ops + 1)]
    first, repeats = population + [interp], by_size[:ZOO_REPEATS]
    rng.shuffle(first)
    rng.shuffle(repeats)
    return rng.sample(pool, warmup_ops + 1) + first + repeats


def zoo_mismatches(case_key: str, got: list, expected: list) -> Optional[str]:
    """``got``: verdicts by instance index; any difference from the fixture
    expectations fails the op."""
    bad = [i for i, (g, e) in enumerate(zip(got, expected)) if g != e]
    if bad or len(got) != len(expected):
        return (f"{case_key}: instances {bad} got "
                f"{[got[i] for i in bad]}, expected "
                f"{[expected[i] for i in bad]} ({len(got)}/{len(expected)})")
    return None


class SchemaZoo:
    """One suite case per op: compile once, map over its instances."""

    name = "schema_zoo"
    WARMUP_OPS = 5

    def __init__(self, spark: SparkSession, seed: int) -> None:
        self.spark, self.seed = spark, seed

    def setup(self, workdir: str) -> None:
        from __spark_entry__ import _load_suite_verdicts
        rows, remotes = _load_suite_verdicts()
        self.cases = suite_cases(rows)
        self.registry = {**META_REGISTRY, **remotes}

    def prepare(self) -> None:
        self.order = zoo_order(self.cases, self.WARMUP_OPS, self.seed)
        #: exactly one pass over the timed sequence
        self.MIN_TIMED_OPS = len(self.order) - 1 - self.WARMUP_OPS

    def op(self, i: int, tr: Tracer, op_id: int) -> Op:
        start = 1 + self.WARMUP_OPS  # a longer run repeats the timed ops
        if i >= len(self.order):
            i = start + (i - start) % self.MIN_TIMED_OPS
        key, schema_str, tests = self.cases[self.order[i]]
        schema = json.loads(schema_str)
        with tr.span("input", op_id):
            df = self.spark.createDataFrame(
                [(j, inst) for j, (inst, _e) in enumerate(tests)],
                "i int, inst string")
        with tr.span("lowering.build", op_id):
            v = validate_json_column(df, "inst", schema,
                                     registry=self.registry)
        out = v.select("i", "valid")
        got = {r["i"]: r["valid"] for r in action(tr, op_id, out)}
        bad = zoo_mismatches(key, [got.get(j) for j in range(len(tests))],
                             [e for _i, e in tests])
        registry = self.registry

        def lower():
            try:
                return VariantCompiler(schema, registry=registry).lower() \
                    .valid(F.try_parse_json(F.col("inst")))
            except (CompileFallback, SchemaCycleError):
                return None
        return Op("case", len(tests), bad, [out], ("variant", lower), df)


WORKLOADS = {w.name: w for w in (SpansScan, SchemaZoo)}
