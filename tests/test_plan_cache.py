"""Plan-memo correctness: cached Column reuse must be row-identical to a
fresh build, keyed so that any input that could change the expressions
misses the cache."""

import sys
import threading

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors import utils as eu
from pyspark.sql import functions as F

from json_schema_lean_spark import plan_cache
from json_schema_lean_spark.compiler import CompileFallback
from json_schema_lean_spark.operators.validation import (
    validate_dataframe, validate_json_column, validate_spans_best,
    violation_rows_fast)
from json_schema_lean_spark.plans import validate_documents_fused
from json_schema_lean_spark.sources.spansgen import SPAN_SCHEMA, spans_documents


def canon_viol(rows):
    return sorted((r["doc_id"], r["span_idx"], r["keyword"], r["json_pointer"])
                  for r in rows)


def test_cached_plan_is_row_identical(spark):
    plan_cache.clear()
    docs = spans_documents(spark, 400)
    first = canon_viol(
        violation_rows_fast(docs, SPAN_SCHEMA, id_cols=["doc_id"]).collect())
    assert plan_cache.stats == {"hits": 0, "misses": 1}
    second = canon_viol(
        violation_rows_fast(docs, SPAN_SCHEMA, id_cols=["doc_id"]).collect())
    assert plan_cache.stats == {"hits": 1, "misses": 1}
    assert first == second and len(first) > 0

    # same schema, same dtype, DIFFERENT DataFrame: hit is sound (Columns
    # bind by name) and verdict-equivalent to a cleared-cache build
    other = spans_documents(spark, 400, seed=7)
    with_cache = canon_viol(
        violation_rows_fast(other, SPAN_SCHEMA, id_cols=["doc_id"]).collect())
    assert plan_cache.stats["hits"] == 2
    plan_cache.clear()
    fresh = canon_viol(
        violation_rows_fast(other, SPAN_SCHEMA, id_cols=["doc_id"]).collect())
    assert with_cache == fresh


def test_key_discriminates(spark):
    plan_cache.clear()
    docs = spans_documents(spark, 50)
    validate_documents_fused(docs, SPAN_SCHEMA, keep_cols=["doc_id"])
    assert plan_cache.stats["misses"] == 1
    # keep_cols is outside the cached expressions: same key, hit
    validate_documents_fused(docs, SPAN_SCHEMA, keep_cols=["doc_id", "spans"])
    assert plan_cache.stats == {"hits": 1, "misses": 1}
    # message_style changes the violation expressions: miss
    validate_documents_fused(docs, SPAN_SCHEMA, keep_cols=["doc_id"],
                             message_style="reference")
    assert plan_cache.stats["misses"] == 2
    # schema change: miss
    validate_documents_fused(docs, {**SPAN_SCHEMA, "required": []},
                             keep_cols=["doc_id"])
    assert plan_cache.stats["misses"] == 3
    # dtype change (extra column alters the instance struct): miss
    validate_documents_fused(docs.withColumn("extra", F.lit(1)),
                             SPAN_SCHEMA, keep_cols=["doc_id"])
    assert plan_cache.stats["misses"] == 4


def test_fused_cache_row_identical(spark):
    plan_cache.clear()
    docs = spans_documents(spark, 300)
    a = sorted((r["doc_id"], r["valid"]) for r in validate_documents_fused(
        docs, SPAN_SCHEMA, keep_cols=["doc_id"]).collect())
    b = sorted((r["doc_id"], r["valid"]) for r in validate_documents_fused(
        docs, SPAN_SCHEMA, keep_cols=["doc_id"]).collect())
    assert plan_cache.stats["hits"] >= 1
    assert a == b


def test_cache_hit_from_sibling_session_gets_analyzer_budget(spark):
    """r3 review fix: a deep-canonicalizer plan built in session A and
    cache-hit from spark.newSession() must still raise B's analyzer
    iteration budget (B's SQLConf starts at the 100 default; the compiler
    that raises it never runs on a hit)."""
    import json as _json

    from json_schema_lean_spark.variant import validate_json_column_variant

    schema = {"type": "array", "uniqueItems": True}  # deep canonicalizer
    deep = [[[[[[[[[[[[[[[[[[[[1]]]]]]]]]]]]]]]]]]]]  # 20 levels
    rows = [(_json.dumps([deep, deep]),), (_json.dumps([1, 2]),)]

    a = spark
    df_a = a.createDataFrame(rows, "j string")
    out_a = {r["j"]: r["valid"] for r in
             validate_json_column_variant(df_a, "j", schema).collect()}

    b = spark.newSession()
    assert int(b.conf.get("spark.sql.analyzer.maxIterations", "100")) <= 200
    df_b = b.createDataFrame(rows, "j string")
    before_hits = plan_cache.stats["hits"]
    out_b = {r["j"]: r["valid"] for r in
             validate_json_column_variant(df_b, "j", schema).collect()}
    assert plan_cache.stats["hits"] > before_hits  # really exercised the hit
    assert out_b == out_a
    assert out_b[_json.dumps([deep, deep])] is False  # duplicates detected
    assert out_b[_json.dumps([1, 2])] is True


def test_validate_dataframe_is_memoized(spark):
    """The forall plan is a plan_memo entry: a second call is a hit and
    its rows equal those of a cleared-cache build."""
    def rows(df):
        return sorted((r["doc_id"], r["valid"],
                       tuple((v["keyword"], v["json_pointer"])
                             for v in r["violations"]))
                      for r in df.select("doc_id", "valid", "violations")
                      .collect())

    docs = spans_documents(spark, 300)
    plan_cache.clear()
    first = rows(validate_dataframe(docs, SPAN_SCHEMA))
    assert plan_cache.stats == {"hits": 0, "misses": 1}
    hit = rows(validate_dataframe(docs, SPAN_SCHEMA))
    assert plan_cache.stats == {"hits": 1, "misses": 1}
    # doc_col changes the instance expression: a miss
    validate_dataframe(docs, {"type": "array"}, doc_col="spans")
    assert plan_cache.stats["misses"] == 2
    plan_cache.clear()
    fresh = rows(validate_dataframe(docs, SPAN_SCHEMA))
    assert hit == first == fresh
    assert any(not valid for _d, valid, _v in fresh)


# -- call-site capture guard -------------------------------------------------

class _Commands:
    """Records the py4j commands the driver sends while active."""

    def __init__(self, spark, monkeypatch):
        self.sent: list[str] = []
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def record(command, *args, **kwargs):
            self.sent.append(command)
            return send(command, *args, **kwargs)
        monkeypatch.setattr(client, "send_command", record)

    def count(self, text: str) -> int:
        return sum(text in c for c in self.sent)


def _span_miss(docs):
    plan_cache.clear()
    return validate_spans_best(docs, SPAN_SCHEMA, keep_cols=["doc_id"])


def test_miss_makes_no_origin_calls(spark, monkeypatch):
    """A plan-cache miss builds without PySpark's per-call origin capture:
    no active-session lookup and no PySparkCurrentOrigin set/clear."""
    docs = spans_documents(spark, 50)
    jdocs = spark.createDataFrame([('{"a": 1}',), ("[]",)], "j string")
    cmds = _Commands(spark, monkeypatch)
    plan_cache.clear()
    validate_json_column(jdocs, "j", {"properties": {"a": {"minimum": 2}}})
    assert plan_cache.stats["misses"] == 1
    assert len(cmds.sent) > 100  # the hook saw the build
    assert cmds.count("PySparkCurrentOrigin") == 0
    # the spans chain makes no session lookup of its own
    n = len(cmds.sent)
    _span_miss(docs)
    assert plan_cache.stats["misses"] == 1
    assert cmds.count("PySparkCurrentOrigin") == 0
    assert not any("getActiveSession" in c for c in cmds.sent[n:])

    # the same miss outside the guard does capture: the counts can see it
    monkeypatch.setattr(eu, "_enable_debugging_cache", True)
    with monkeypatch.context() as m:
        m.setattr(plan_cache, "_FLAG", "_no_such_flag")
        _span_miss(docs)
    assert cmds.count("PySparkCurrentOrigin") > 0
    assert cmds.count("getActiveSession") > 0


def test_flag_restored(spark, monkeypatch):
    """The guard restores the flag it found, None included, after a
    success, after a declining builder, and after two threads built at
    the same time; inside, the flag reads False."""
    df = spark.range(3)
    inside = []

    def build():
        inside.append(eu._enable_debugging_cache)
        return F.lit(1)

    def decline():
        inside.append(eu._enable_debugging_cache)
        raise CompileFallback("declined")

    for prev in (None, True):
        monkeypatch.setattr(eu, "_enable_debugging_cache", prev)
        plan_cache.clear()
        plan_cache.plan_memo("guard-ok", df, {}, None, (), build)
        assert eu._enable_debugging_cache is prev
        with pytest.raises(CompileFallback):
            plan_cache.plan_memo("guard-decline", df, {}, None, (), decline)
        assert eu._enable_debugging_cache is prev

        both_in = threading.Barrier(2, timeout=30)
        errors = []

        def threaded(kind):
            def wait_for_other():
                inside.append(eu._enable_debugging_cache)
                both_in.wait()  # both builds are inside the guard
                inside.append(eu._enable_debugging_cache)
                return F.lit(kind)
            try:
                plan_cache.plan_memo(kind, df, {}, None, (), wait_for_other)
            except Exception as e:  # pragma: no cover - reported below
                errors.append(e)
        threads = [threading.Thread(target=threaded, args=(k,))
                   for k in ("guard-t1", "guard-t2")]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not errors and not any(t.is_alive() for t in threads)
        assert eu._enable_debugging_cache is prev
        assert plan_cache._guard["depth"] == 0
    assert inside and all(v is False for v in inside)


def test_user_column_keeps_its_call_site(spark):
    """After a library call, a user's own Column still records where it
    was built: the error context names this file, not a py4j frame."""
    _span_miss(spans_documents(spark, 50))
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.col("id") / F.lit(0)).collect()
    sites = [c.callSite() for c in err.value.getQueryContext()]
    assert any(__file__ in s for s in sites), sites


def test_guard_is_a_no_op_without_the_flag(spark, monkeypatch):
    """A PySpark without ``_enable_debugging_cache``: the build works,
    captures call sites as PySpark would, and the attribute stays absent."""
    docs = spans_documents(spark, 50)
    monkeypatch.delattr(eu, "_enable_debugging_cache")
    monkeypatch.setattr(eu, "is_debugging_enabled", lambda: True)
    cmds = _Commands(spark, monkeypatch)
    got = sorted((r["doc_id"], r["valid"]) for r in _span_miss(docs).collect())
    assert not hasattr(eu, "_enable_debugging_cache")
    assert cmds.count("PySparkCurrentOrigin") > 0
    monkeypatch.undo()
    want = sorted((r["doc_id"], r["valid"])
                  for r in _span_miss(docs).collect())
    assert got == want


def test_guard_refcount_under_thread_stress(monkeypatch):
    """More threads than cores enter and leave the guard, nested, with a
    short switch interval: inside, the flag always reads False; after the
    last exit it is the value found before the first enter."""
    monkeypatch.setattr(eu, "_enable_debugging_cache", None)
    seen, errors = set(), []

    def work():
        try:
            for _ in range(300):
                with plan_cache.no_call_site_capture():
                    seen.add(eu._enable_debugging_cache)
                    with plan_cache.no_call_site_capture():
                        seen.add(eu._enable_debugging_cache)
        except Exception as e:  # pragma: no cover - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(t.is_alive() for t in threads)
    assert seen == {False}
    assert eu._enable_debugging_cache is None
    assert plan_cache._guard == {"depth": 0, "prev": None}
