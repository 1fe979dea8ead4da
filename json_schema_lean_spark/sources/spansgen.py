"""Deterministic interleaved text+media documents generator (FIXTURES.md §1).

Generates the `north_rule` input shape
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)`` entirely
as Column expressions over ``spark.range`` — no Python RNG, no driver-side
data, no wall clock. The same (n_docs, seed) always yields byte-identical
rows, and generation distributes across however many partitions the range is
split into, so the generator itself scales to the bench sizes.

Violations are injected at fixed rates keyed by ``xxhash64(doc_id) % 1000``
so expected verdict counts are computable in closed form (see
tests/test_spansgen.py):

- bucket 0-4    (0.5%): first span missing ``kind``        -> `required`
- bucket 5-14   (1.0%): a text span with empty ``text``    -> `minLength`
- bucket 15-24  (1.0%): media_ref not matching ^asset://   -> `pattern`
- bucket 25-29  (0.5%): negative ``offset``                -> `minimum`
- bucket 30-39  (1.0%): media_ref dangling (not in catalog)-> referential ext.
- bucket 990-999(1.0%): duplicated doc_id row              -> uniqueness ext.

A hot-key cluster (~5% of docs share the doc_id prefix ``doc-hot``) exercises
skew handling in downstream shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KIND_MIX = ("text", "image", "audio", "video")  # 70/20/7/3

#: the flagship span schema (SURVEY.md §7.1), used by tests, entry() and bench
SPAN_SCHEMA = {
    "$id": "https://engine.example/schemas/span-doc",
    "type": "object",
    "required": ["doc_id", "spans"],
    "properties": {
        "doc_id": {"type": "string", "pattern": "^doc-"},
        "spans": {
            "type": "array",
            "minItems": 1,
            "items": {"$ref": "#/definitions/span"},
        },
    },
    "definitions": {
        "span": {
            "type": "object",
            "required": ["kind"],
            "properties": {
                "kind": {"enum": ["text", "image", "audio", "video"]},
                "text": {"type": "string", "minLength": 1},
                "media_ref": {"type": "string", "pattern": "^asset://"},
                "offset": {"type": "integer", "minimum": 0},
            },
        }
    },
}

N_ASSETS = 4096  # catalog size (broadcast-joined dimension)


def _h(col, salt: int):
    """Deterministic 64-bit hash column with a salt."""
    return F.xxhash64(col, F.lit(salt))


def _pm(col, salt: int, mod: int):
    return F.pmod(_h(col, salt), F.lit(mod))


def spans_documents(spark: SparkSession, n_docs: int, seed: int = 42,
                    partitions: int | None = None) -> DataFrame:
    """Build the documents_spans table: (doc_id string, spans array<struct>).

    The result has TWICE the partitions of its ``spark.range`` (``2 *
    partitions`` when given): the re-emitted duplicate-``doc_id`` rows
    (hash bucket 990+, about 1% of the documents) are unioned in as their
    own partitions, one per range partition. Written as parquet,
    ``partitions=8`` over 200k docs thus gives 8 files of 25k documents and
    8 files of roughly 250 duplicate rows each."""
    rng = spark.range(0, n_docs, 1, partitions) if partitions else spark.range(n_docs)
    sid = F.col("id") + F.lit(seed * 1_000_003)

    # ~5% hot-key prefix cluster; otherwise a stable hash prefix
    prefix = F.when(_pm(sid, 1, 100) < 5, F.lit("doc-hot")) \
              .otherwise(F.format_string("doc-%04x", _pm(sid, 2, 65536)))
    doc_id = F.format_string("%s-%010d", prefix, F.col("id"))

    df = rng.select(F.col("id"), doc_id.alias("doc_id"))
    bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(1000))

    n_spans = (_pm(sid, 3, 16) + 1)

    def span(i):
        """One span struct for position i (i is a Column)."""
        kmix = F.pmod(F.xxhash64(F.col("id"), i, F.lit(7)), F.lit(100))
        kind = F.when(kmix < 70, F.lit("text")) \
                .when(kmix < 90, F.lit("image")) \
                .when(kmix < 97, F.lit("audio")) \
                .otherwise(F.lit("video"))
        # violation: first span of bucket 0-4 docs loses its kind
        kind = F.when((bucket < 5) & (i == 0), F.lit(None).cast("string")).otherwise(kind)

        words = F.pmod(F.xxhash64(F.col("id"), i, F.lit(11)), F.lit(12)) + 1
        text_body = F.concat(
            F.lit("tok"),
            F.repeat(F.concat(F.lit(" w"),
                              F.pmod(F.xxhash64(F.col("id"), i, F.lit(13)),
                                     F.lit(9973)).cast("string")),
                     words.cast("int")),
        )
        text = F.when(kind == "text", text_body).otherwise(F.lit(None).cast("string"))
        # violation: bucket 5-14 docs get one empty text at position 0
        text = F.when((bucket >= 5) & (bucket < 15) & (i == 0) & kind.isNotNull(),
                      F.lit("")).otherwise(text)

        asset = F.format_string("asset://blob/%06d",
                                F.pmod(F.xxhash64(F.col("id"), i, F.lit(17)),
                                       F.lit(N_ASSETS)))
        media = F.when(kind.isin("image", "audio", "video"), asset) \
                 .otherwise(F.lit(None).cast("string"))
        # violation: bucket 15-24 -> malformed scheme on span 0's media ref
        media = F.when((bucket >= 15) & (bucket < 25) & (i == 0) & media.isNotNull(),
                       F.regexp_replace(media, "^asset://", "http://")).otherwise(media)
        # violation: bucket 30-39 -> dangling ref outside the catalog
        media = F.when((bucket >= 30) & (bucket < 40) & (i == 0) & media.isNotNull(),
                       F.lit("asset://missing/deadbeef")).otherwise(media)

        offset = i.cast("int")
        # violation: bucket 25-29 -> negative offset on span 0
        offset = F.when((bucket >= 25) & (bucket < 30) & (i == 0),
                        F.lit(-1)).otherwise(offset).cast("int")

        return F.struct(kind.alias("kind"), text.alias("text"),
                        media.alias("media_ref"), offset.alias("offset"))

    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), lambda i: span(i))
    df = df.select("doc_id", spans.alias("spans"),
                   bucket.alias("_bucket"))

    # duplicated doc_id rows (uniqueness violations): bucket 990+ re-emitted
    dups = df.where(F.col("_bucket") >= 990)
    out = df.unionAll(dups).drop("_bucket")
    return out


def asset_catalog(spark: SparkSession, n_assets: int = N_ASSETS) -> DataFrame:
    """Broadcast-sized asset catalog (FIXTURES.md §2). Covers every
    non-violating media_ref emitted by spans_documents."""
    rng = spark.range(n_assets)
    kind_mix = F.pmod(F.xxhash64(F.col("id"), F.lit(23)), F.lit(10))
    return rng.select(
        F.format_string("asset://blob/%06d", F.col("id")).alias("media_ref"),
        F.when(kind_mix < 6, F.lit("image")).when(kind_mix < 9, F.lit("audio"))
         .otherwise(F.lit("video")).alias("media_kind"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(29)), F.lit(10_000_000)) + 1024)
        .alias("bytes"),
    )
