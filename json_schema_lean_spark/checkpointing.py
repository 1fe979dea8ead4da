"""Checkpointed, resumable validation runs (north_rule mandate; no reference
analog — the reference is a one-shot stdin loop, Harness/Harness.lean:42-57).

Unit of work = a group of input parquet files (the Parquet surrogate for an
Iceberg partition; with a real Iceberg catalog the unit becomes a partition
of a pinned snapshot-id and the lineage slot carries that snapshot). Each
completed unit commits

- its verdict/violation output under ``<out_dir>/parts/<unit_id>/``, and
- a manifest entry ``<out_dir>/manifest/<unit_id>.json`` (written atomically
  via temp+rename) carrying lineage (run_id, input content surrogate,
  validator version, schema hash, partition spec) and metrics (rows scanned,
  valid rows, violations, stage seconds).

Resume = list units, drop the ones with a committed manifest entry whose
lineage matches, process the rest. A killed job therefore replays ONLY
unfinished units, and the combined output is row-identical to a fresh run
(span sequences included) — asserted in tests/test_checkpoint.py.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import __version__
from .operators.validation import validate_spans_best


def _schema_hash(schema_json: Any) -> str:
    return hashlib.sha256(
        json.dumps(schema_json, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()[:16]


def _file_surrogate(paths: list[str]) -> str:
    """Content surrogate for the Iceberg snapshot-id slot: hash of the
    sorted (path, size) list. Cheap, deterministic, catches file swaps."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        h.update(str(os.path.getsize(p)).encode())
    return h.hexdigest()[:16]


def list_input_files(input_path: str) -> list[str]:
    return sorted(
        os.path.join(input_path, f) for f in os.listdir(input_path)
        if f.endswith(".parquet") and not f.startswith("_"))


def _default_keep(schema: StructType, spans_col: str) -> list[str]:
    """keep_cols=None: the first input column other than ``spans_col`` (the
    spans arrays themselves only when there is no other column). Taken from
    the run's merged schema, whose column order follows the footer order,
    so it must not be simply its first column: a file lacking doc_id that
    sorts first would put the spans arrays into every unit's output."""
    names = [f.name for f in schema.fields]
    return [next((n for n in names if n != spans_col), names[0])]


def _sum_metrics(per_unit) -> dict:
    """Numeric Observation metrics of several units folded into one dict:
    summed, except ``max_*`` keys, which take a max of maxes. Entries may
    be None (a unit without metrics)."""
    total: dict = {}
    for metrics in per_unit:
        for k, v in (metrics or {}).items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                if k.startswith("max_"):
                    total[k] = max(total.get(k, v), v)
                else:
                    total[k] = total.get(k, 0) + v
    return total


def plan_units(files: list[str], files_per_unit: int = 32) -> list[tuple[str, list[str]]]:
    units = []
    for i in range(0, len(files), files_per_unit):
        chunk = files[i:i + files_per_unit]
        units.append((f"unit-{i // files_per_unit:05d}", chunk))
    return units


@dataclass
class RunReport:
    run_id: str
    units_total: int
    units_skipped: int
    units_processed: int
    rows: int
    valid: int
    violations: int
    #: numeric Observation metrics summed over the units processed by THIS
    #: call (per-unit values live in each manifest entry; resumed runs
    #: re-aggregate across manifests with summed_observed_metrics())
    observed: Optional[dict] = None
    #: seconds spent force-JITting the validator before the first unit
    warmup_sec: float = 0.0


class CheckpointedValidation:
    def __init__(self, spark: SparkSession, input_path: str, schema_json: Any,
                 out_dir: str, spans_col: str = "spans",
                 keep_cols: Optional[list[str]] = None,
                 files_per_unit: int = 32, run_id: str = "run-0",
                 range_partitions: int = 0,
                 range_col: str = "doc_id",
                 unit_fn=None,
                 warm_start: bool = True,
                 concurrent_units: int = 1) -> None:
        self.spark = spark
        self.input_path = input_path
        self.schema_json = schema_json
        self.out_dir = out_dir
        self.spans_col = spans_col
        self.keep_cols = keep_cols
        self.files_per_unit = files_per_unit
        self.run_id = run_id
        # range_partitions > 0: commit each unit's output
        # repartitionByRange(range_col) + sorted within partitions, so every
        # output file covers a DISJOINT doc_id range (north_rule: "explicit
        # repartitionByRange on doc_id"). At 100 TB this is what a downstream
        # consumer wants — merge/join on doc_id without a shuffle-by-hash of
        # the violation output, bounded file sizes, and range-prunable reads.
        # Range (not hash) partitioning also defuses hot doc_id prefixes:
        # the sampled range boundaries split dense key regions.
        self.range_partitions = range_partitions
        self.range_col = range_col
        # unit_fn(spark, df) -> (out_df, Observation | None): swaps the
        # default spans validation for ANY per-unit operator (e.g. capped
        # LSH dedup) while keeping the manifest/resume machinery. The
        # Observation must be FRESH per call (Spark binds one action to an
        # Observation); its metrics — e.g. cap_bucket_rows'
        # dropped_candidate_pairs — land in the unit's manifest entry as
        # "observed_metrics", so a resumed multi-unit run aggregates its
        # no-silent-caps accounting across units (VERDICT r4 #5)
        self.unit_fn = unit_fn
        # warm_start: force-JIT the unit plan on the SMALLEST input file
        # before the first pending unit: two noop-sink executions of the
        # unit plan over the smallest file (warm_validation_codegen for the
        # default spans validation, the unit_fn itself otherwise), once per
        # run() that has units to process. Measured on the 12.1M-doc
        # run (16 units of 1.5M docs, local[32], fresh JVM, A/B repeated):
        # unit 0 falls 10.0-10.4 s -> 5.4-6.0 s for a 3.6-4.1 s warm-up —
        # WALL-NEUTRAL in a single shared JVM, but unit 0 stops being a
        # 3.3x outlier, so per-unit manifest times read as steady-state
        # and progress/ETA extrapolation from early units is honest. (The
        # 15-40x interpreter tax from the one-shot sf1 bench appears when
        # the FIRST pass is the entire input; a 1.5M-row first unit caps
        # the exposure at ~2x.) Reading a real input file (not a limit()
        # of one) keeps the generated stage source identical to the units'.
        self.warm_start = warm_start
        # concurrent_units: driver threads processing units as overlapping
        # Spark jobs (default 1 = strictly sequential, the historical
        # behavior). See run() for the scheduling rationale.
        self.concurrent_units = concurrent_units
        self.validator_version = __version__
        self.schema_hash = _schema_hash(schema_json)
        os.makedirs(f"{out_dir}/manifest", exist_ok=True)
        os.makedirs(f"{out_dir}/parts", exist_ok=True)

    # -- manifest ------------------------------------------------------------

    def _manifest_path(self, unit_id: str) -> str:
        return f"{self.out_dir}/manifest/{unit_id}.json"

    def _completed(self, unit_id: str, surrogate: str) -> bool:
        path = self._manifest_path(unit_id)
        if not os.path.exists(path):
            return False
        try:
            entry = json.loads(open(path).read())
        except ValueError:
            return False  # torn write: redo the unit
        return (entry.get("input_surrogate") == surrogate
                and entry.get("schema_hash") == self.schema_hash
                and entry.get("validator_version") == self.validator_version)

    def _commit(self, unit_id: str, entry: dict) -> None:
        path = self._manifest_path(unit_id)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f, indent=1)
        os.replace(tmp, path)  # atomic commit

    # -- run -----------------------------------------------------------------

    def run(self, max_units: Optional[int] = None) -> RunReport:
        """Process unfinished units (up to max_units — used to simulate a
        kill). Each unit is one distributed Spark job over its file group;
        the constructor's ``concurrent_units`` > 1 overlaps that many units
        as simultaneous jobs. When units are pending, the run first reads
        the footers of ALL input files once, merged into one
        schema (one Spark job), so those footers must be mergeable: a column
        whose type differs between two files fails the run before any unit
        runs. keep_cols=None keeps the first column other than spans_col."""
        files = list_input_files(self.input_path)
        units = plan_units(files, self.files_per_unit)
        pending = []
        for unit_id, chunk in units:
            surrogate = _file_surrogate(chunk)
            if not self._completed(unit_id, surrogate):
                pending.append((unit_id, chunk, surrogate))
        skipped = len(units) - len(pending)
        todo = pending if max_units is None else pending[:max_units]
        if not todo:
            return RunReport(self.run_id, len(units), skipped, 0, 0, 0, 0)
        # ONE schema inference (one Spark job) per run; the warm-up and
        # every unit then read with it instead of paying an inference job
        # per read. mergeSchema unions the footers of ALL input files, so
        # every unit reads and writes the same columns; a file that lacks
        # a column reads it as null, which the validators treat as missing
        # (tests/test_checkpoint.py).
        schema = (self.spark.read.option("mergeSchema", "true")
                  .parquet(*files).schema)
        keep = (self.keep_cols if self.keep_cols is not None
                else _default_keep(schema, self.spans_col))
        warmup_sec = 0.0
        if self.warm_start:
            warmup_sec = self._warm_up(self.spark.read.schema(schema).parquet(
                min(files, key=os.path.getsize)), keep)
        if self.concurrent_units <= 1 or len(todo) <= 1:
            entries = [self._process_unit(*t, schema, keep) for t in todo]
        else:
            # driver threads submit units as overlapping Spark jobs: the
            # scheduler backfills idle cores of one unit's write/commit
            # tail with the next unit's scan tasks. On a real cluster this
            # is the difference between a 1000-executor cluster idling
            # during each unit's driver-side commit and it staying fed;
            # manifest commits are per-unit atomic files, part dirs are
            # disjoint, and the AQE observation guard is refcounted, so
            # interleaving is safe. Unit order within the manifest is by
            # unit id either way. Measured (12.1M docs, 16 units,
            # local[32]): 3 concurrent units 27.9 s vs 35.1 s sequential.
            # SIZE THE HEAP for the overlap: N concurrent units hold ~N
            # units' worth of scan batches + write buffers at once — the
            # same 12.1M run OOMs at Spark's default driver memory with
            # concurrency 3 while running fine sequentially (16g is
            # comfortable; on a cluster this is executor memory).
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=self.concurrent_units) as pool:
                entries = list(pool.map(
                    lambda t: self._process_unit(*t, schema, keep), todo))
        rows = valid = viols = 0
        for entry in entries:
            rows += entry["rows_scanned"]
            if entry["valid_rows"] is not None:
                valid += entry["valid_rows"]
                viols += entry["violations"]
        observed = _sum_metrics(e["observed_metrics"] for e in entries)
        return RunReport(self.run_id, len(units), skipped, len(entries),
                         rows, valid, viols, observed or None,
                         warmup_sec)

    def _warm_up(self, small_df: DataFrame, keep: list) -> float:
        """Run the unit plan over ``small_df`` (the smallest input file) and
        discard the result; returns seconds spent."""
        if self.unit_fn is None:
            from .operators.validation import warm_validation_codegen
            return warm_validation_codegen(
                small_df, self.schema_json, passes=2,
                spans_col=self.spans_col, keep_cols=keep)
        # a custom unit_fn: run it over the smallest input file and
        # discard the output through the noop sink — the plan is built
        # the same way the units build theirs (same schema, same read
        # path => same generated stage source), so the JIT work
        # transfers; only the final write stage differs. Each call must
        # create its own fresh Observation (the documented unit_fn
        # contract), so the extra executions cannot collide with the
        # real units' metrics.
        t0 = time.perf_counter()
        for _ in range(2):
            out, _obs = self.unit_fn(self.spark, small_df)
            out.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    def _process_unit(self, unit_id: str, chunk: list, surrogate: str,
                      schema: StructType, keep: list) -> dict:
        """Validate + commit ONE unit read with the run's ``schema``,
        keeping the run's ``keep`` columns; returns its manifest entry. Safe to call from several driver
        threads (concurrent_units>1): every side effect is unit-scoped
        (part dir, manifest file)."""
        t0 = time.perf_counter()
        df = self.spark.read.schema(schema).parquet(*chunk)
        obs = None
        if self.unit_fn is not None:
            out, obs = self.unit_fn(self.spark, df)
        else:
            # strategy chain (fused zero-shuffle first)
            out = validate_spans_best(
                df, self.schema_json, spans_col=self.spans_col,
                keep_cols=keep)
        part_path = f"{self.out_dir}/parts/{unit_id}"
        if self.range_partitions > 0:
            # NB: repartitionByRange samples its child to pick
            # boundaries, so the unit validates twice — measured
            # CHEAPER than materializing the wide verdict rows first
            # (localCheckpoint before the shuffle was 258s vs 189s at
            # 12.1M docs; fused validation is fast, the wide-row
            # sort+shuffle dominates and is the inherent price of
            # doc_id-clustered sorted output)
            out = (out.repartitionByRange(self.range_partitions,
                                          self.range_col)
                      .sortWithinPartitions(self.range_col))
        # unit metrics ride the write job as observed metrics instead
        # of a re-read of the written part (r5: the re-read + its agg
        # was ~40% of steady-state unit time at 1.5M rows/unit). The
        # CollectMetrics node sits ABOVE any repartitionByRange
        # exchange, so the range-boundary SAMPLING pass (which
        # re-executes the child) never feeds the counters — rows are
        # counted once, post-shuffle, during the write itself.
        from pyspark.sql import Observation

        from .observe import (
            observed_metrics_or_none,
            preserve_observed_metrics,
        )
        has_verdicts = ("valid" in out.columns
                        and "violations" in out.columns)
        aggs = [F.count(F.lit(1)).alias("rows")]
        if has_verdicts:
            aggs += [F.coalesce(F.sum(F.col("valid").cast("long")),
                                F.lit(0)).alias("valid"),
                     F.coalesce(F.sum(F.size("violations")
                                      .cast("long")),
                                F.lit(0)).alias("viols")]
        unit_obs = Observation()
        out = out.observe(unit_obs, *aggs)
        # the guard covers BOTH observations (unit metrics + an
        # optional unit_fn one): an empty unit output would otherwise
        # lose its CollectMetrics to AQE empty-relation pruning — the
        # all-dropped case is exactly when the accounting matters
        with preserve_observed_metrics(self.spark):
            out.write.mode("overwrite").parquet(part_path)
        m = observed_metrics_or_none(unit_obs)
        if m is None:
            # metrics lost despite the guard (defensive): fall back to
            # the pre-r5 re-read of the committed part — correctness
            # of the manifest beats the saved scan
            part = self.spark.read.parquet(part_path)
            m = part.agg(*aggs).collect()[0]
        observed_metrics = None
        if obs is not None:
            # the write above was the observed df's one action; get is
            # now a local dict (no extra job)
            got = observed_metrics_or_none(obs)
            observed_metrics = None if got is None else {
                k: (v if isinstance(v, (int, float, bool, str))
                    else str(v))
                for k, v in got.items()}
        entry = {
            "run_id": self.run_id,
            "unit_id": unit_id,
            "input_files": chunk,
            "input_surrogate": surrogate,
            "partition_spec": (
                f"files[{self.files_per_unit}]"
                + (f"/range({self.range_col},{self.range_partitions})"
                   if self.range_partitions > 0 else "")),
            "validator_version": self.validator_version,
            "schema_hash": self.schema_hash,
            "rows_scanned": m["rows"],
            "valid_rows": m["valid"] if has_verdicts else None,
            "violations": m["viols"] if has_verdicts else None,
            "observed_metrics": observed_metrics,
            "stage_sec": round(time.perf_counter() - t0, 3),
        }
        self._commit(unit_id, entry)
        return entry

    def results(self) -> DataFrame:
        """Combined output of the CURRENT unit plan only. Parts directories
        left behind by units that no longer exist (input file set shrank or
        reshuffled — unit ids are positional) are excluded, preserving the
        row-identical-to-fresh-run resume guarantee (ADVICE r1)."""
        files = list_input_files(self.input_path)
        units = plan_units(files, self.files_per_unit)
        paths = [f"{self.out_dir}/parts/{unit_id}"
                 for unit_id, chunk in units
                 if self._completed(unit_id, _file_surrogate(chunk))
                 and os.path.isdir(f"{self.out_dir}/parts/{unit_id}")]
        if not paths:
            raise FileNotFoundError(
                "no completed units for the current input plan; run() first")
        return self.spark.read.parquet(*paths)

    def manifest(self) -> list[dict]:
        out = []
        mdir = f"{self.out_dir}/manifest"
        for name in sorted(os.listdir(mdir)):
            if name.endswith(".json"):
                out.append(json.loads(open(os.path.join(mdir, name)).read()))
        return out

    def summed_observed_metrics(self) -> dict:
        """Numeric Observation metrics summed across ALL committed units —
        the whole-run no-silent-caps accounting (e.g. total
        dropped_candidate_pairs), correct across kill/resume because each
        unit's metrics were committed with its manifest entry."""
        return _sum_metrics(e.get("observed_metrics")
                            for e in self.manifest())
