"""Deduplication operators (task-mandated pipeline extensions).

- exact:    hash-groupBy on a normalized fingerprint (one shuffle, map-side
            combine; at 100 TB the fingerprint is 32 bytes/row, not the text)
- MinHash:  shingle -> k minhashes -> LSH bands -> bucket self-join on
            (band, signature-slice) — candidate pairs only, never O(n²)
- SimHash:  64-bit weighted-bit fingerprint; near-dups = identical simhash
            buckets (or low Hamming distance within buckets)
- n-gram Jaccard: exact verification of candidate pairs

All hashing uses xxhash64 (JVM built-in) so signatures are deterministic and
computed without Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..compiler import _let
from .text import fingerprint, word_ngrams


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups on normalized text: (fp, keep_id, n_dups).

    r6 negative result: spreading a single-row-group scan with
    scale_partitions before the fingerprint was MEASURED SLOWER here
    (0.62 -> 0.90 s at the 50k-row sf1.0 clone): the md5 fingerprint is
    ~0.3 CPU-s total, far below the cost of the extra full-text exchange,
    so the groupBy's own exchange stays the only shuffle."""
    return (df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
              .groupBy("fp")
              .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_rows"))
            )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per normalized-text fingerprint."""
    ranked = df.withColumn("_fp", fingerprint(F.col(text_col))).withColumn(
        "_rn", F.row_number().over(
            Window.partitionBy("_fp").orderBy(F.col(id_col))))
    return ranked.where(F.col("_rn") == 1).drop("_fp", "_rn")


def portable_hash64(col: Column, salt: str = "") -> Column:
    """Engine-portable 60-bit hash: int of the first 15 hex chars of md5.
    Bit-identical in Spark (conv(substr(md5(x),1,15),16,10)) and DuckDB
    (CAST('0x'||substr(md5(x),1,15) AS BIGINT)) — lets hash-based operators
    be oracle-checked across engines. Slower than xxhash64; use only where
    portability matters."""
    v = F.concat(col, F.lit(salt)) if salt else col
    return F.conv(F.substring(F.md5(v), 1, 15), 16, 10).cast("bigint")


def minhash_signature(shingles: Column, k: int = 32,
                      portable: bool = False) -> Column:
    """k-permutation MinHash via salted hashing of each shingle; the
    signature is array<bigint> of per-salt minima. Fully columnar.
    portable=True swaps xxhash64 for the md5-based portable hash (same
    verdicts, cross-engine reproducible, ~3x slower).

    r6: the ``shingles`` expression is LET-BOUND once per row — it is
    referenced k times (one transform per salt), and Catalyst inlines
    every reference into the interpreted HOF lambdas, so the whole n-gram
    construction (split + per-gram array_join) used to run k=32 times per
    row (measured 1370 -> ~90 tree-CPU-s on the 50k-doc portable
    pipeline). Same shingle strings -> identical hashes/signature.

    NB: the salt must be closed over via a factory — a default-arg lambda
    would make pyspark treat it as an (element, index) HOF lambda."""
    def salted(i: int):
        if portable:
            return lambda s: portable_hash64(s, f"#{i}")
        return lambda s: F.xxhash64(s, F.lit(i))

    return _let(shingles, lambda sh: F.array(*[
        F.array_min(F.transform(sh, salted(i))) for i in range(k)
    ]))


def cap_bucket_rows(banded: DataFrame, bucket_cols: list[str], id_col: str,
                    max_bucket_size: int, observation=None,
                    method: str = "exact",
                    portable: bool = False) -> DataFrame:
    """Bound the per-bucket row count of an LSH banding before a self-join.

    Pair output of a bucket self-join is quadratic in bucket size: a
    boilerplate-heavy corpus (millions of templated or near-empty docs
    sharing a band key) makes one degenerate bucket emit ~n²/2 candidates
    before any verify stage — output CARDINALITY, which AQE skew handling
    cannot fix.

    ``method`` picks the truncation strategy:

    - ``"exact"`` (default): keep the smallest-``id_col`` prefix of each
      bucket via ``row_number`` — fully deterministic and engine-portable
      (a SQL oracle reproduces it with the same window; pinned by the
      minhash_pairs_capped driver query). Cost note: the window sorts each
      bucket inside ONE task, so one pathological 100M-row bucket becomes a
      single disk-spilling straggler (it completes — sort-based windows
      spill — but slowly).
    - ``"sampled"``: keep rows whose ``hash(id) % ceil(n/cap) == 0`` —
      still deterministic (pure function of the id), but needs NO
      per-bucket ordering: bucket sizes come from a map-side-combined
      groupBy of the oversized keys joined back WITHOUT a broadcast hint,
      so no window concentrates a giant bucket into one task. The
      oversized-key relation is usually tiny (each key stands for > cap
      rows) and AQE then converts the join to a broadcast at runtime from
      its MEASURED size — but its row count is bounded only by
      n/(cap+1), so an adversarial corpus of many barely-oversized
      buckets must NOT be forced through driver memory by a hint
      (ADVICE r4); at worst it stays a shuffled join on the same
      (band, key) the self-join partitions by. The scale-robust choice;
      survivor count is ~cap in expectation rather than exactly cap.
      ``portable=True`` swaps xxhash64 for the md5-based
      :func:`portable_hash64` of the stringified id so a SQL engine can
      reproduce the exact survivor set (DuckDB-oracled via the
      minhash_pairs_capped_sampled driver query); xxhash64 otherwise.

    NO SILENT CAPS: pass a ``pyspark.sql.Observation`` to receive, on the
    first action, ``dropped_candidate_pairs`` (sum over oversized buckets of
    C(n,2) − C(kept,2) per banding — a pair sharing several oversized bands
    counts once per band; estimated from survivor shares under "sampled"),
    ``oversized_buckets`` and ``max_bucket_rows``. Run exact dedup first:
    identical docs share every band, so their buckets are the ones a cap
    truncates — collapse them to one representative instead of paying
    (then losing) their pairs here."""
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2 "
                         "(a 1-row bucket emits no pairs)")

    if method == "sampled":
        sizes = (banded.groupBy(*bucket_cols)
                       .agg(F.count(F.lit(1)).alias("_bsz"))
                       .where(F.col("_bsz") > max_bucket_size))
        surv_hash = (portable_hash64(F.col(id_col).cast("string"))
                     if portable else F.xxhash64(F.col(id_col)))
        # no broadcast hint: AQE picks broadcast when `sizes` measures
        # small, shuffled when an adversarial corpus makes it big
        out = (banded.join(sizes, bucket_cols, "left")
                     .withColumn("_mod", F.ceil(F.col("_bsz")
                                                / max_bucket_size))
                     .where(F.col("_bsz").isNull()
                            | (F.pmod(surv_hash, F.col("_mod")) == 0)))
        if observation is not None:
            n = F.col("_bsz").cast("double")
            kept = n / F.col("_mod").cast("double")  # expected survivors
            over = F.col("_bsz").isNotNull()
            # each SURVIVING oversized row carries its bucket share of the
            # per-bucket drop (estimate: survivors ~ kept)
            share = ((n * (n - 1)) - kept * (kept - 1)) / 2 / kept
            out = out.observe(
                observation,
                F.coalesce(F.sum(F.when(over, share).otherwise(0.0)),
                           F.lit(0.0)).cast("bigint")
                 .alias("dropped_candidate_pairs"),
                # DISTINCT aggregates are banned in observed metrics;
                # HLL approx is fine (exact under ~thousands of buckets)
                F.coalesce(F.approx_count_distinct(F.when(
                    over, F.concat_ws("\u0000", *[
                        F.col(c).cast("string") for c in bucket_cols]))),
                    F.lit(0)).cast("bigint").alias("oversized_buckets"),
                F.coalesce(F.max("_bsz"), F.lit(0)).cast("bigint")
                 .alias("max_bucket_rows"))
        return out.drop("_bsz", "_mod")

    if method != "exact":
        raise ValueError(f"unknown cap method {method!r}")
    wp = Window.partitionBy(*bucket_cols)
    out = (banded
           .withColumn("_bn", F.row_number().over(wp.orderBy(id_col)))
           .withColumn("_bsz", F.count(F.lit(1)).over(wp))
           .where(F.col("_bn") <= max_bucket_size))
    if observation is not None:
        n = F.col("_bsz").cast("double")
        cap = F.least(n, F.lit(float(max_bucket_size)))
        head = F.col("_bn") == 1  # one metric row per bucket
        out = out.observe(
            observation,
            F.coalesce(F.sum(F.when(
                head, (n * (n - 1) - cap * (cap - 1)) / 2).otherwise(0.0)),
                F.lit(0.0)).cast("bigint").alias("dropped_candidate_pairs"),
            F.coalesce(F.sum(F.when(
                head & (F.col("_bsz") > max_bucket_size), 1).otherwise(0)),
                F.lit(0)).cast("bigint").alias("oversized_buckets"),
            F.coalesce(F.max("_bsz"), F.lit(0)).cast("bigint")
             .alias("max_bucket_rows"))
    return out.drop("_bn", "_bsz")


def _banded_candidate_pairs(base: DataFrame, band_struct_fn, bands: int,
                            carry: list[str],
                            max_bucket_size: int | None = None,
                            observation=None,
                            cap_method: str = "exact",
                            cap_portable: bool = False) -> DataFrame:
    """Banded LSH self-join scaffold shared by the MinHash and SimHash
    pipelines: explode per-band (band, key) structs, equi-join on them with
    id_a < id_b, distinct. ``base`` must carry ``_id``; ``carry`` names
    extra base columns surfaced as <name>_a / <name>_b on the pairs.

    ``max_bucket_size`` bounds the quadratic blow-up of degenerate buckets
    (see :func:`cap_bucket_rows`); the window shuffle it adds partitions on
    the same (band, key) the join needs, so the exchange is shared. Default
    None = exact semantics (required by the DuckDB-oracled driver queries)."""
    banded = (base.select("_id", *carry, F.explode(F.array(*[
                  band_struct_fn(i) for i in range(bands)])).alias("bb"))
                  .select("_id", *carry, "bb.band", "bb.key"))
    if max_bucket_size is not None:
        banded = cap_bucket_rows(banded, ["band", "key"], "_id",
                                 max_bucket_size, observation,
                                 method=cap_method, portable=cap_portable)
    left, right = banded.alias("l"), banded.alias("r")
    sel = [F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")]
    for c in carry:
        sel += [F.col(f"l.{c}").alias(f"{c}_a"),
                F.col(f"r.{c}").alias(f"{c}_b")]
    return (left.join(right, (F.col("l.band") == F.col("r.band"))
                      & (F.col("l.key") == F.col("r.key"))
                      & (F.col("l._id") < F.col("r._id")))
                .select(*sel).distinct())


def minhash_candidate_pairs(df: DataFrame, text_col: str, id_col: str,
                            k: int = 32, bands: int = 8,
                            ngram: int = 3, portable: bool = False,
                            max_bucket_size: int | None = None,
                            observation=None,
                            cap_method: str = "exact") -> DataFrame:
    """LSH candidate pairs: same (band_idx, band-slice of signature) bucket.

    Scale shape: the self-join keys on (band, slice-hash) — buckets are tiny
    at realistic thresholds, so the join explodes candidates, not the corpus.
    Returns distinct (id_a, id_b) with id_a < id_b. For adversarial corpora
    (templated/boilerplate text collapsing many docs into one bucket) pass
    ``max_bucket_size`` (+ an Observation) — see :func:`cap_bucket_rows`.
    """
    rows_per_band = k // bands
    sig = minhash_signature(word_ngrams(F.col(text_col), ngram), k,
                            portable=portable)
    # r6: the signature (k salted hashes per shingle — the dominant CPU of
    # the whole pipeline, ~32 md5s/shingle when portable) evaluates
    # map-side before the bucket join's exchange; spread a small or
    # unsplittable scan first (guide §2.5; no-op at production scale)
    from ..parallelism import scale_partitions
    with_sig = scale_partitions(df).select(
        F.col(id_col).alias("_id"), sig.alias("_sig"))

    def bucket_of(b: int) -> Column:
        joined = F.array_join(
            F.transform(F.slice("_sig", b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string")), ",")
        return portable_hash64(joined) if portable else F.xxhash64(joined)

    return _banded_candidate_pairs(
        with_sig,
        lambda b: F.struct(F.lit(b).alias("band"), bucket_of(b).alias("key")),
        bands, carry=[], max_bucket_size=max_bucket_size,
        observation=observation, cap_method=cap_method,
        cap_portable=portable)


def ngram_jaccard(df_pairs: DataFrame, docs: DataFrame, text_col: str,
                  id_col: str, ngram: int = 3, round_to: int = 6) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage)."""
    from ..parallelism import scale_partitions
    grams = scale_partitions(docs).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(word_ngrams(F.col(text_col), ngram)).alias("_g"))
    a = grams.select(F.col("_id").alias("id_a"), F.col("_g").alias("g_a"))
    b = grams.select(F.col("_id").alias("id_b"), F.col("_g").alias("g_b"))
    j = (df_pairs.join(a, "id_a").join(b, "id_b")
         .withColumn("inter", F.size(F.array_intersect("g_a", "g_b")))
         .withColumn("uni", F.size(F.array_union("g_a", "g_b"))))
    return j.select(
        "id_a", "id_b",
        F.round(F.when(F.col("uni") > 0,
                       F.col("inter").cast("double") / F.col("uni").cast("double"))
                 .otherwise(F.lit(0.0)), round_to).alias("jaccard"))


def simhash64(text: Column, ngram: int = 2, portable: bool = False) -> Column:
    """64-bit SimHash over word n-grams: per-bit weighted majority of shingle
    hashes, entirely with integer Column ops (shiftright + bitwise AND).
    portable=True uses the md5-based cross-engine hash (60 effective bits;
    bits 60-63 then never reach majority and stay unset) so DuckDB can
    reproduce the exact values."""
    shingles = word_ngrams(text, ngram)
    if portable:
        hash_expr = F.transform(shingles, lambda s: portable_hash64(s))
    else:
        hash_expr = F.transform(shingles, lambda s: F.xxhash64(s))

    # NB: default-arg lambdas break pyspark HOFs (the param count makes them
    # look like (element, index) lambdas) — close over via a factory instead
    def bit_set(b: int):
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    # r6: the shingle-hash array is LET-BOUND once per row — it is
    # referenced 128 times below (a filter + a size per bit), and Catalyst
    # inlines every reference into the interpreted lambdas, so the n-gram
    # construction + hashing used to re-run per bit. Identical hash values
    # -> bit-identical simhash (DuckDB oracles stay green).
    def majority_bits(hashes: Column) -> Column:
        bits = []
        for bit in range(64):
            ones = F.size(F.filter(hashes, bit_set(bit)))
            total = F.size(hashes)
            bits.append(F.when(ones * 2 >= total, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
                        * F.lit(2 ** bit if bit < 63 else -(2 ** 63)).cast("long"))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    return _let(hash_expr, majority_bits)


def simhash_dup_groups(df: DataFrame, text_col: str, id_col: str,
                       ngram: int = 2, portable: bool = False) -> DataFrame:
    """Groups of documents sharing an identical simhash (near-dup bucket).
    The 64-bit-majority simhash is interpreted HOF work evaluated map-side;
    spread small/unsplittable scans first (r6, guide §2.5)."""
    from ..parallelism import scale_partitions
    df = scale_partitions(df)
    return (df.select(F.col(id_col),
                      simhash64(F.col(text_col), ngram, portable).alias("simhash"))
              .groupBy("simhash")
              .agg(F.count(F.lit(1)).alias("n_rows"), F.min(id_col).alias("keep_id"))
            )


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 3, bands: int = 4,
                       ngram: int = 2, portable: bool = False,
                       max_bucket_size: int | None = None,
                       observation=None,
                       cap_method: str = "exact") -> DataFrame:
    """Near-dup pairs within a Hamming radius of each other's SimHash —
    the distance-tolerant form of :func:`simhash_dup_groups` (which needs
    IDENTICAL fingerprints). Banded by pigeonhole: with ``bands >
    max_hamming``, two signatures within the radius differ in at most
    ``max_hamming`` bit positions, so at least one of the ``bands``
    disjoint bit-chunks is untouched and the band equi-join finds the pair
    with FULL recall — the plan stays a shuffled bucket join (candidates
    explode per shared band; no cross product), then ``bit_count(xor)``
    verifies the exact distance. portable=True keeps the md5-based 60-bit
    hash so DuckDB reproduces the identical pairs."""
    if bands <= max_hamming:
        raise ValueError("bands must exceed max_hamming "
                         "(pigeonhole recall guarantee)")
    bits = 60 if portable else 64
    if bands > bits:
        raise ValueError("bands must not exceed the signature bit width "
                         f"({bits}): zero-width bands would key every doc "
                         "into one bucket (cross-product join)")
    w = bits // bands
    sig = simhash64(F.col(text_col), ngram, portable)
    from ..parallelism import scale_partitions
    base = scale_partitions(df).select(
        F.col(id_col).alias("_id"), sig.alias("_sig"))
    pairs = _banded_candidate_pairs(
        base,
        lambda i: F.struct(F.lit(i).alias("band"),
                           F.shiftright(F.col("_sig"), w * i)
                            .bitwiseAND(F.lit((1 << w) - 1)).alias("key")),
        bands, carry=["_sig"], max_bucket_size=max_bucket_size,
        observation=observation, cap_method=cap_method,
        cap_portable=portable)
    ham = F.bit_count(F.col("_sig_a").bitwiseXOR(F.col("_sig_b"))).cast("int")
    return (pairs.select("id_a", "id_b", ham.alias("hamming"))
                 .where(F.col("hamming") <= max_hamming))
