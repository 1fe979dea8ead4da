"""Plan census: the Column expressions both compilers build for every
distinct conformance-suite schema, counted and hashed (no action run).

Run from any directory:

    python scripts/plan_census.py [--message-style reference] [--out F]
    python scripts/plan_census.py --against F     # compare with a saved run

For each distinct schema of ``fixtures/suite`` and
``fixtures/suite_official/draft7`` (267, compared as sorted-key JSON), the
script lowers the verdict and violations Columns:

- ``variant``: ``VariantCompiler(schema).lower()`` over a variant column;
- ``static``: ``ColumnarCompiler(schema).lower(dtype, null_means="null")``
  once per distinct dtype inferred from the schema's test instances
  (``inference.infer_json_dtype``), as ``tests/test_columnar_suite.py``
  does.

Per schema and path it prints the number of lambda functions,
``schema_of_variant`` calls and regex matches (``rlike``/``regexp_like``)
in the expression text, and a sha256 of that text with lambda-variable
names masked (PySpark numbers them from a global counter, so two
otherwise equal plans differ in them). A schema that does not lower prints
its decline reason instead.

``--against F`` reads a JSON-lines file written by ``--out`` and lists the
schemas whose counts or hash differ; it exits 1 when any count rose, so two
builds of the compilers can be checked for "same plans, or explained
changes".
"""
import argparse
import hashlib
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from json_schema_lean_spark.compiler import (  # noqa: E402
    ColumnarCompiler, CompileFallback)
from json_schema_lean_spark.inference import infer_json_dtype  # noqa: E402
from json_schema_lean_spark.metaschema import META_REGISTRY  # noqa: E402
from json_schema_lean_spark.resolver import SchemaCycleError  # noqa: E402
from json_schema_lean_spark.variant import VariantCompiler  # noqa: E402

SUITE_DIRS = [ROOT / "fixtures" / "suite",
              ROOT / "fixtures" / "suite_official" / "draft7"]
COUNTS = ("lambda", "schema_of_variant", "rlike")

_LAMBDA = re.compile(r"(?:\b[a-z]+_\d+|\([a-z]+_\d+(?:, [a-z]+_\d+)*\)) -> ")
_LAMBDA_VAR = re.compile(r"\b([a-z]+)_\d+\b")
_SOV = re.compile(r"\bschema_of_variant\(")
_RLIKE = re.compile(r"\b(?:rlike|regexp_like|RLIKE)\(")


def suite_schemas() -> list[tuple[str, object, list]]:
    """[(first case id, schema, [instances of every case with it])]"""
    by_key: dict[str, tuple[str, object, list]] = {}
    for f in sorted(p for d in SUITE_DIRS for p in d.glob("*.json")):
        for ci, case in enumerate(json.loads(f.read_text())):
            key = json.dumps(case["schema"], sort_keys=True, default=str)
            entry = by_key.setdefault(
                key, (f"{f.stem}/{ci}", case["schema"], []))
            entry[2].extend(t["data"] for t in case["tests"])
    return list(by_key.values())


def census(texts: list[str]) -> dict:
    text = "\n".join(texts)
    out = {"lambda": len(_LAMBDA.findall(text)),
           "schema_of_variant": len(_SOV.findall(text)),
           "rlike": len(_RLIKE.findall(text))}
    masked = _LAMBDA_VAR.sub(r"\1_#", text)
    out["hash"] = hashlib.sha256(masked.encode()).hexdigest()[:16]
    return out


def lowered_texts(low, col) -> list[str]:
    return [low.valid(col)._jc.toString(),
            low.violations(col, F.lit(""))._jc.toString()]


def variant_entry(schema, style: str) -> dict:
    try:
        low = VariantCompiler(schema, registry=META_REGISTRY,
                              message_style=style).lower()
    except CompileFallback as e:
        return {"fallback": str(e)}
    return census(lowered_texts(low, F.col("v")))


def static_entry(schema, instances: list, style: str) -> dict:
    try:
        comp = ColumnarCompiler(schema, registry=META_REGISTRY,
                                message_style=style)
    except SchemaCycleError as e:
        return {"fallback": f"cycle: {e}"}
    dtypes = {}
    for data in instances:
        dtype, _why = infer_json_dtype(data)
        if dtype is not None:
            dtypes.setdefault(dtype.simpleString(), dtype)
    texts, declined = [], []
    for name in sorted(dtypes):
        try:
            low = comp.lower(dtypes[name], null_means="null")
        except CompileFallback as e:
            declined.append(f"{name}: {e}")
            continue
        texts.append(name)
        texts.extend(lowered_texts(low, F.col("c")))
    out = census(texts) if texts else {}
    if declined:
        out["declined"] = declined
    return out


def compare(rows: list[dict], against: Path) -> int:
    old = {r["id"]: r for r in map(json.loads,
                                   against.read_text().splitlines())}
    rose = changed = 0
    for r in rows:
        o = old.get(r["id"])
        for path in ("variant", "static"):
            new_e, old_e = r[path], (o or {}).get(path)
            if old_e == new_e:
                continue
            up = [k for k in COUNTS
                  if k in new_e and new_e[k] > (old_e or {}).get(k, 0)]
            rose += bool(up)
            changed += 1
            print(f"{r['id']} {path}: {old_e} -> {new_e}"
                  + (f"  ROSE {up}" if up else ""))
    print(f"{changed} entries differ, {rose} with a higher count")
    return 1 if rose else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--message-style", default="structured",
                    choices=("structured", "reference"))
    ap.add_argument("--out", type=Path, help="write JSON lines here")
    ap.add_argument("--against", type=Path,
                    help="compare with a JSON-lines file from --out")
    args = ap.parse_args()

    spark = (SparkSession.builder.master("local[1]")
             .appName("plan_census").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for sid, schema, instances in suite_schemas():
        row = {"id": sid,
               "variant": variant_entry(schema, args.message_style),
               "static": static_entry(schema, instances, args.message_style)}
        rows.append(row)
        if not args.against:
            print(" ".join(
                [sid] + [f"{path}:" + (
                    "fallback" if "fallback" in row[path] else
                    ",".join(str(row[path].get(k, "-")) for k in COUNTS)
                    + "," + row[path].get("hash", "-"))
                    for path in ("variant", "static")]), flush=True)
    spark.stop()
    if args.out:
        args.out.write_text("".join(json.dumps(r) + "\n" for r in rows))
    return compare(rows, args.against) if args.against else 0


if __name__ == "__main__":
    sys.exit(main())
