"""Benchmark decontamination: flag corpus documents whose word-n-gram
overlap with a benchmark/eval set exceeds a threshold — the standard
train/test-leak guard in large-scale training-data pipelines.

Scale shape (why this survives 100 TB): the benchmark side is small by
definition, so its distinct n-grams (or their fixed-size Bloom filter)
ship with the task closure; every corpus document shingles, hashes and
counts in ONE mapInArrow pass over (doc_id, text) — ZERO shuffle of
corpus grams, no join. The only corpus shuffle carries (doc_id, count)
longs; the only benchmark-side shuffle is its bounded distinct.

The "benchmark" is a deterministic slice of the corpus itself
(doc_id % 50 == 0) so the DuckDB oracle reproduces it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .arrow_seams import map_rows
from .dedup import _shingles

_GRAM_COUNT_SCHEMA = StructType([StructField("doc_id", LongType()),
                                 StructField("c", LongType())])

# word-3-grams; a doc is contaminated at 5 shared distinct grams
_GRAM_N = 3
_CONTAMINATED_AT = 5


def _default_split(documents: DataFrame):
    """(benchmark, corpus) for both decontamination variants: the
    doc_id % 50 == 0 slice and the rest. One definition so the exact and
    Bloom operators can never decontaminate different corpora."""
    return (documents.where(F.col("doc_id") % 50 == 0),
            documents.where(F.col("doc_id") % 50 != 0))


def decontaminate(documents: DataFrame) -> DataFrame:
    """(doc_id, overlap, contaminated) per corpus doc.

    ``overlap`` = number of distinct word-``_GRAM_N``-grams shared with
    the benchmark set; ``contaminated`` = 1 when overlap ≥
    ``_CONTAMINATED_AT``. Benchmark docs themselves are excluded from
    the output (they would trivially self-match).
    """
    n = _GRAM_N
    benchmark, corpus = _default_split(documents)
    # r7 (guide §4.2): the benchmark gram set is collected once
    # (bounded by the eval suite's vocabulary — the same object the
    # old plan broadcast) and the corpus side counts per-row distinct
    # gram membership in ONE mapInArrow pass instead of exploding
    # every gram through a semi-join. String semantics are identical:
    # _shingles is a bare space-split + ' '-join (regex ' ' == str
    # .split(' '), no lower()), so the Python gram set equals the
    # expression's array_distinct exactly — pinned by
    # tests/test_round7.py::test_decontaminate_python_matches_explode_join.
    bench_set = frozenset(
        r["g"] for r in benchmark.select(
            F.explode(_shingles(F.col("text"), n)).alias("g"))
        .distinct().collect())
    hits = _py_gram_counts(
        corpus, n, lambda grams: sum(1 for g in grams if g in bench_set),
        "overlap")
    base = corpus.select(F.col("doc_id").cast("bigint").alias("doc_id"))
    return (
        base.join(hits, "doc_id", "left")
        .select("doc_id", F.coalesce("overlap", F.lit(0)).cast("bigint").alias("overlap"))
        .select(
            "doc_id",
            "overlap",
            F.when(F.col("overlap") >= _CONTAMINATED_AT, 1).otherwise(0).cast("int").alias("contaminated"),
        )
    )


def _py_gram_counts(corpus: DataFrame, n: int, count_fn, out_name: str) -> DataFrame:
    """(doc_id, <out_name>) per doc: ``count_fn`` applied to each
    row's distinct word-n-gram set in mapInArrow, then summed per
    doc_id — the same pooling the old explode + groupBy(doc_id) did
    for duplicate ids (each row's distinct set counts separately)."""

    def count(doc_id, text):
        grams: set = set()
        if text is not None:
            toks = text.split(" ")
            if len(toks) >= n:
                grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        return [(doc_id, int(count_fn(grams)))]

    per_row = map_rows(
        corpus.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text"),
        count, _GRAM_COUNT_SCHEMA)
    return per_row.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias(out_name))


DECONTAMINATE_SQL = """
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])
         ELSE [] END AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
bench AS (
  SELECT list(DISTINCT g) AS barr
  FROM (SELECT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0))
SELECT doc_id,
       CAST(len(list_intersect(s, barr)) AS BIGINT) AS overlap,
       CAST(CASE WHEN len(list_intersect(s, barr)) >= 5 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM sh, bench
WHERE doc_id % 50 <> 0
"""


_BLOOM_M = 65536  # filter bits
_BLOOM_K = 3      # hashes per gram
_POLY_M = 1_000_000_007


def _gram_hash(col):
    # portable polynomial fold over the FULL gram (the minhash twin's
    # 8-char prefix fold is fine for banding, where collisions only
    # inflate candidates — here a prefix fold collapsed this corpus's
    # shared-prefix grams to one hash and made the filter useless)
    from .hashing import char_fold

    return char_fold(col)


def _bloom_positions(h):
    # k positions per gram: ((h·(A+j) + B·(j+1)) mod P) mod m with P a
    # large prime FIRST — reducing mod m directly would make every
    # position an affine function of (h mod m), i.e. one m-ary
    # fingerprint shared by all k hashes (measured 20x the theoretical
    # FP rate); the prime mix decorrelates them
    return F.transform(
        F.sequence(F.lit(0), F.lit(_BLOOM_K - 1)),
        lambda j: ((h * (F.lit(2654435761) + j.cast("long"))
                    + F.lit(40503) * (j.cast("long") + 1))
                   % _POLY_M) % _BLOOM_M,
    )


def decontaminate_bloom(documents: DataFrame) -> DataFrame:
    """Bloom-filter decontamination — the broadcast-SCALE variant of
    ``decontaminate``: instead of broadcasting the benchmark's distinct
    n-gram STRINGS (which grows with the eval suite), aggregate them
    into a fixed m-bit Bloom filter (m=65536, k=3 — ~2700 set bits for the
    sf0.01 benchmark, fill 0.04, per-gram FP ~7e-5) and flag corpus docs
    whose count of filter-passing distinct grams reaches
    ``_CONTAMINATED_AT``.

    Scale shape: the filter build is a bounded distinct over k·|bench
    grams| positions; the corpus side is scan-local codegen against the
    ONE broadcast filter row — the only corpus shuffle carries (doc_id,
    partial count). False positives are a DETERMINISTIC function of the
    integer hash family, so the DuckDB twin reproduces the exact same
    approximate decisions — the approximation is cross-engine-pinned,
    not fuzzed.

    Output: (doc_id, overlap_bloom, contaminated) over the
    non-benchmark corpus, like ``decontaminate``."""
    n = _GRAM_N
    benchmark, corpus = _default_split(documents)

    set_bits = (
        benchmark.select(F.explode(_shingles(F.col("text"), n)).alias("g"))
        .distinct()
        .select(F.explode(_bloom_positions(_gram_hash(F.col("g")))).alias("pos"))
        .distinct()
    )
    # the m-bit filter assembles on the driver (<= m bounded position
    # rows) and rides to the executors in the task closure as one
    # bytes blob
    import numpy as np

    bf = np.zeros(_BLOOM_M, dtype=bool)
    pos_rows = set_bits.collect()
    if pos_rows:
        bf[np.array([r["pos"] for r in pos_rows], dtype=np.int64)] = True
    filt = tuple(bool(x) for x in bf)  # closure-shipped with the task

    # r7 (guide §4.2): the corpus side — shingle, full-gram polynomial
    # fold, k bloom probes, distinct-gram count — runs in ONE
    # mapInArrow pass over (doc_id, text) instead of exploding 1.5M
    # gram rows through interpreted per-char fold lambdas (~60% of the
    # old 3.9 s). All-integer hash math and bare space-split strings,
    # so the Python replay is exact — pinned by
    # tests/test_round7.py::test_decontaminate_python_matches_explode_join.
    M, P, K_, A_, B_ = _BLOOM_M, _POLY_M, _BLOOM_K, 2654435761, 40503

    def _bloom_count(grams):
        cnt = 0
        for g in grams:
            h = 0
            for ch in g:
                h = (h * 31 + ord(ch)) % P
            ok = True
            for j in range(K_):
                if not filt[((h * (A_ + j) + B_ * (j + 1)) % P) % M]:
                    ok = False
                    break
            if ok:
                cnt += 1
        return cnt

    hits = _py_gram_counts(corpus, n, _bloom_count, "overlap_bloom")
    base = corpus.select(F.col("doc_id").cast("bigint").alias("doc_id"))
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("overlap_bloom", F.lit(0)).cast("bigint")
            .alias("overlap_bloom"),
            F.when(F.coalesce("overlap_bloom", F.lit(0)) >= _CONTAMINATED_AT, 1)
            .otherwise(0).cast("int").alias("contaminated"),
        )
    )


DECONTAMINATE_BLOOM_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])
         ELSE [] END AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
gh AS (
  SELECT doc_id, g,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(g, ''), c -> CAST(ord(c) AS BIGINT))),
           (a, b) -> (a * 31 + b) % {_POLY_M}) AS h
  FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
bset AS (
  SELECT list(DISTINCT (h * (2654435761 + j.j) + 40503 * (j.j + 1)) % {_POLY_M} % {_BLOOM_M}) AS bits
  FROM gh, range(0, {_BLOOM_K}) j(j) WHERE doc_id % 50 = 0),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS overlap_bloom
  FROM gh, bset
  WHERE doc_id % 50 <> 0
    AND list_has_all(bits,
          [(h * (2654435761 + jj) + 40503 * (jj + 1)) % {_POLY_M} % {_BLOOM_M}
           FOR jj IN range(0, {_BLOOM_K})])
  GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(h.overlap_bloom, 0) AS BIGINT) AS overlap_bloom,
       CAST(CASE WHEN COALESCE(h.overlap_bloom, 0) >= 5 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
LEFT JOIN hits h USING (doc_id)
"""
