"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Exact + n-gram Jaccard carry DuckDB oracles (integer outputs). MinHash
and SimHash hinge on Spark's xxhash64, which no SQL engine reproduces;
their logic is oracled through portable-hash twins, their production
wiring through injectable-seam tests (tests/test_round6.py), and since
r6 their full prod output through expected-values twins generated by
the pure-Python XXH64 mirror (tdp/pyhash.py).

Scale notes:
- exact dedup: single hash-aggregate on a 64-bit content hash; never
  groupBy the full text at 100 TB (shuffle writes the hash, not the
  document).
- MinHash LSH: shingle → K minhashes → B bands; candidate pairs come
  from an equi-join on (band, band_signature) — a shuffle on small
  fixed-width keys. Pair explosion is bounded per bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .arrow_seams import list_parts

# One value per setting, replayed by the twins: word 3-gram shingles,
# 32 minhashes in 8 bands; simhash pairs within 3 bits, bucketed on 4
# chunks, with hot chunk buckets above the cap dropped; the KMV sketch
# keeps 64 minimums.
_SHINGLE_N, _NUM_HASHES, _BANDS = 3, 32, 8
_SIMHASH_MAX_HAMMING, _SIMHASH_BUCKET_CAP, _SIMHASH_CHUNKS = 3, 10000, 4
_KMV_K = 64


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Per-source doc/distinct counts via content hash (exact dedup)."""
    return (
        documents.select("source", F.xxhash64("text").alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.countDistinct("h").cast("bigint").alias("distinct_docs"),
        )
        .withColumn("dupes", (F.col("docs") - F.col("distinct_docs")).cast("bigint"))
        .select("source", "docs", "distinct_docs", "dupes")
    )


def _zip_grams(col, n: int):
    """Word n-gram occurrences (dupes kept) as array<string>, built
    from ``arrays_zip`` of n shifted slices + one concat per element —
    the cheapest expression form (r7): the old per-position
    ``transform(sequence, i -> concat_ws(slice))`` allocated an array
    per element inside the interpreted HOF evaluator (~1.5× slower
    measured). NULL text → NULL (callers guard)."""
    toks = F.split(col, " ")
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(n)])
    return F.transform(
        zipped, lambda z: F.concat_ws(" ", *[z[str(i)] for i in range(n)]))


def _shingles(col, n: int):
    """Distinct word n-gram shingles of a text column (empty when the
    text has fewer than n tokens or NULL — callers filter those out)."""
    toks = F.split(col, " ")
    return F.when(
        F.size(toks) >= n, F.array_distinct(_zip_grams(col, n))
    ).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_adjacent(documents: DataFrame) -> DataFrame:
    """Exact word-3-gram Jaccard between consecutive doc_ids — the
    exact-similarity baseline the MinHash path approximates. Output
    floor(J*10000) for oracle-exact comparison."""
    from . import spread

    d = spread(documents).where(F.size(F.split("text", " ")) >= _SHINGLE_N).select(
        F.col("doc_id").cast("bigint").alias("id"),
        _shingles(F.col("text"), _SHINGLE_N).alias("sh"))
    a = d.alias("a")
    b = d.select((F.col("id") - 1).alias("id"), F.col("sh").alias("sh_b")).alias("b")
    pairs = a.join(b, "id")
    inter = F.size(F.array_intersect("sh", "sh_b")).cast("double")
    union = F.size(F.array_union("sh", "sh_b")).cast("double")
    return pairs.select(
        F.col("id").alias("a_id"),
        (F.col("id") + 1).alias("b_id"),
        F.floor(inter / union * 10000).cast("bigint").alias("jaccard_x10k"),
    )


def _shingle_rows(documents: DataFrame, n: int) -> DataFrame:
    """One row per word n-gram OCCURRENCE: (doc_id, __mh_s) — the
    explode-first shingle generator for the minhash partial-agg paths.

    Built from ``arrays_zip`` of n shifted slices + a post-explode
    ``concat_ws`` projection, so every per-shingle step runs inside
    whole-stage codegen; the per-position ``transform`` lambda of
    ``_shingles`` is interpreted per element (guide §4.1 — measured r7:
    the zip form halves the shingling stage). Differences vs exploding
    ``_shingles`` directly, both deliberate:

    - duplicates are KEPT (no array_distinct): MIN aggregation is
      duplicate-insensitive, so signatures are identical and the
      distinct's per-doc hash set never builds;
    - shingle-less docs (fewer than n tokens, or NULL text) surface as
      ONE NULL row via explode_outer — the NULL-guarded hash then yields
      all-NULL mins → the same band_sig '' the fold produces. The guard
      matters: concat_ws over a NULL struct returns '' (not NULL), which
      would silently bucket every short doc together.
    """
    toks = F.split("text", " ")
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(n)])
    z = F.col("__mh_z")
    gram = F.when(
        z.isNotNull(),
        F.concat_ws(" ", *[z[str(i)] for i in range(n)]))
    return (
        documents.select("doc_id", F.explode_outer(zipped).alias("__mh_z"))
        .select("doc_id", gram.alias("__mh_s"))
    )


def _prod_minhash_hash(s, k: int):
    """The production minhash hash family: xxhash64 seeded per-k.

    Module-level on purpose — no DuckDB oracle can reach xxhash64, so
    the wire-verification test (tests/test_round6.py) monkeypatches
    THIS symbol with the portable hash and runs the production
    ``portable=False`` code path end-to-end, asserting pair-set
    equality with ``portable=True``. That pins the prod branch's
    signature assembly / banding wiring, not just the shared logic."""
    return F.xxhash64(s, F.lit(k))


def _prod_simhash_token_hash(w):
    """The production simhash token hash (same test seam rationale)."""
    return F.xxhash64(w)


def _portable_sig_arrow(ex: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, __mh_ph) explode-contiguous hash rows → (doc_id, sig)
    via numpy: 32 affine-mod seed mixes + per-doc-run minimums
    (np.minimum.reduceat), with partial doc runs carried across Arrow
    batch boundaries. One output row per contiguous doc run — the
    per-row-cardinality contract of the production fold (doc_id is the
    family's primary key; duplicate ids are corrupt input upstream).

    Integer exactness: ph < 1e9+7, so ph·(2654435761+31)+40503·32 <
    2.66e18 < 2^63 — no wraparound; the % is the same mathematical mod
    (all operands non-negative). NULL hashes are excluded via an
    int64-max sentinel written AFTER the mod; a run with zero valid
    hashes yields the all-NULL sig (band_sig '' downstream)."""
    import numpy as np
    import pyarrow as pa

    from .text import _POLY_M

    M = _POLY_M
    SENTINEL = (1 << 62)
    A = np.array([2654435761 + k for k in range(num_hashes)], dtype=np.int64)
    B = np.array([40503 * (k + 1) for k in range(num_hashes)], dtype=np.int64)
    out_type = pa.list_(pa.int64())

    def batches(it):
        carry_id = None          # doc_id of the unfinished tail run
        carry_null = False       # tail doc_id is NULL
        carry_min = None         # (num_hashes,) int64 partial mins
        carry_valid = 0          # count of valid hashes seen in the run

        def finish(doc_id, is_null, mins, valid):
            sig = ([None] * num_hashes if valid == 0
                   else [int(v) for v in mins])
            return (None if is_null else doc_id), sig

        for batch in it:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            idc = batch.column("doc_id")
            id_null = np.asarray(idc.is_null())
            ids = np.asarray(idc.fill_null(0))
            phc = batch.column("__mh_ph")
            valid = ~np.asarray(phc.is_null())
            ph = np.asarray(phc.fill_null(0), dtype=np.int64)
            # mixed[k, i] = (ph_i * A_k + B_k) % M, sentinel where null
            mixed = (ph[None, :] * A[:, None] + B[:, None]) % M
            mixed[:, ~valid] = SENTINEL
            # run boundaries: id value change or null-flag change
            change = np.flatnonzero(
                (ids[1:] != ids[:-1]) | (id_null[1:] != id_null[:-1])) + 1
            starts = np.concatenate(([0], change))
            mins = np.minimum.reduceat(mixed, starts, axis=1)
            counts = np.add.reduceat(valid.astype(np.int64), starts)
            out_ids, out_sigs = [], []
            first_id, first_null = int(ids[0]), bool(id_null[0])
            joined = (carry_id is not None
                      and first_id == carry_id and first_null == carry_null)
            if carry_id is not None and not joined:
                i, s = finish(carry_id, carry_null, carry_min, carry_valid)
                out_ids.append(i); out_sigs.append(s)
                carry_id = None
            for seg in range(len(starts)):
                seg_id, seg_null = int(ids[starts[seg]]), bool(id_null[starts[seg]])
                seg_min, seg_valid = mins[:, seg], int(counts[seg])
                if seg == 0 and joined:
                    seg_min = np.minimum(carry_min, seg_min)
                    seg_valid += carry_valid
                if seg == len(starts) - 1:
                    carry_id, carry_null = seg_id, seg_null
                    carry_min, carry_valid = seg_min, seg_valid
                else:
                    i, s = finish(seg_id, seg_null, seg_min, seg_valid)
                    out_ids.append(i); out_sigs.append(s)
            if out_ids:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out_ids, pa.int64()),
                     pa.array(out_sigs, out_type)],
                    names=["doc_id", "sig"])
        if carry_id is not None:
            i, s = finish(carry_id, carry_null, carry_min, carry_valid)
            yield pa.RecordBatch.from_arrays(
                [pa.array([i], pa.int64()), pa.array([s], out_type)],
                names=["doc_id", "sig"])

    return ex.mapInArrow(batches, "doc_id bigint, sig array<bigint>")


def minhash_signatures(documents: DataFrame, portable: bool) -> DataFrame:
    """K minhashes per doc: min over shingles of hash_k(shingle).

    ``portable=False`` (the scale path) uses xxhash64(s, k) —
    the fastest built-in 64-bit hash. ``portable=True`` derives hash_k
    from the polynomial token hash
    ((ph·(2654435761+k) + 40503·(k+1)) mod 1e9+7), fully reproducible
    in SQL, so the banded-LSH candidate logic is hash-verified by the
    DuckDB oracle.

    The PORTABLE family explodes shingle rows, hashes each once in a
    codegen projection and folds the 32 seed mixes per doc in one
    ``mapInArrow`` seam; the PRODUCTION family folds
    ``array_min(transform(xxhash64))`` per row (see the branch comments
    for the measured choice of each shape).

    ``doc_id`` is a PRIMARY KEY (same contract as feature_hash_vec):
    the portable seam folds each contiguous run of one doc_id's shingle
    rows into one signature, and the DuckDB twin emits one signature
    per ROW.
    Duplicate doc_ids are corrupt input to this whole family (pairs,
    groups, incremental all key on doc_id) — dedupe ids upstream."""
    from . import spread
    from .text import portable_token_hash

    num_hashes, n = _NUM_HASHES, _SHINGLE_N
    if portable:
        # Portable: explode-first shingle rows → one codegen hash
        # projection → numpy seed-mix + segment-MIN seam (r7; guide
        # §4.2). The r6 shape ran 32 affine-mod projections and a
        # 32-column partial-agg groupBy in the JVM — measured 0.38 s +
        # 0.54 s of the 1.39 s fold at sf0.1. Here only (doc_id, ph)
        # longs cross to Python (~8 bytes/shingle), the 32 mixes are
        # vectorized once per batch, and per-doc MINs come from
        # reduceat over the explode-contiguous doc runs — REMOVING the
        # groupBy exchange entirely (each doc's shingle rows sit
        # consecutively in one partition because explode emits each
        # input row's grams as one run; doc_id is this family's
        # primary key, so one row = one doc). Exactness: the mix is
        # pure int64 arithmetic (max ~2.65e18 < 2^63), MIN is
        # order-free, NULL hashes (shingle-less docs' explode_outer
        # row) are masked out → all-NULL sig → band_sig '' as before.
        # Pinned by tests/test_round7.py::
        # test_portable_sig_arrow_matches_mix_groupby.
        ex = _shingle_rows(spread(documents), n)
        ex = ex.select(
            "doc_id", portable_token_hash(F.col("__mh_s")).alias("__mh_ph"))
        return _portable_sig_arrow(ex, num_hashes)

    # Production: per-row fold — 32 array_min(transform(xxhash64))
    # over no-distinct zip grams. Measured r7 AGAINST the explode+
    # partial-agg shape that wins for the portable family: the fold is
    # 2× FASTER here (0.55 vs 1.13 s at sf0.1) because one interpreted
    # xxhash64 call per element is cheap while the explode pays a
    # groupBy exchange + 32-column aggregation; the portable char fold
    # is ~8 interpreted ops per CHARACTER, which is why ITS fold loses.
    # Dropping array_distinct (MIN is duplicate-insensitive) and
    # zip-building the grams is another 1.5× on the shingling stage
    # (0.76 → 0.50 s), signatures bit-identical. Short/NULL-text docs:
    # empty/NULL gram array → array_min → all-NULL sig → band_sig ''.
    d = spread(documents).select(
        "doc_id", _zip_grams(F.col("text"), n).alias("sh"))

    # Seeds MUST be closed over via a factory, never a lambda default:
    # Spark's HOF wrapper substitutes a Column for EVERY lambda
    # parameter (defaults included), so `lambda s, k=k:` silently binds
    # k to the array-index column and all K entries collapse.
    def _seeded(k):
        # late-bound module global: tests swap _prod_minhash_hash for a
        # portable hash to wire-verify the production branch end-to-end
        return lambda s: _prod_minhash_hash(s, k)

    sig = F.array(*[F.array_min(F.transform("sh", _seeded(k)))
                    for k in range(num_hashes)])
    return d.select("doc_id", sig.alias("sig"))


def banded_signatures(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) rows from a (doc_id, sig-array) frame —
    the banding step shared by ``minhash_lsh_pairs`` and
    ``dedup_incremental``."""
    rows_per_band = _NUM_HASHES // _BANDS
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(",", F.slice("sig", b * rows_per_band + 1, rows_per_band).cast("array<string>"))
                    for b in range(_BANDS)
                ]
            )
        ).alias("band", "band_sig"),
    )


def minhash_lsh_pairs(documents: DataFrame, portable: bool = False) -> DataFrame:
    """LSH candidate pairs: split the K-wide signature into bands, join
    docs sharing any (band_id, band_signature) bucket. ``portable``
    picks the hash family (see minhash_signatures)."""
    sigs = minhash_signatures(documents, portable=portable)
    # materialize the slim (doc_id, band, band_sig) rows once (r7): the
    # plan otherwise embeds the whole shingle+signature pipeline once
    # per self-join side (AQE exchange reuse is not guaranteed across
    # differently-projected branches)
    banded = banded_signatures(sigs).localCheckpoint()
    # one explicit shuffle on the join key so both self-join branches
    # reuse the same exchange instead of recomputing the signatures
    banded = banded.repartition("band", "band_sig")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "band_sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


# oracle for minhash_lsh_pairs(portable=True): identical shingling,
# polynomial token hash, K=32 seeded mixes, 8 bands of 4 — the banded
# candidate logic is hash-verified end-to-end (the xxhash64 default
# shares every line of that logic and differs only in the hash call).
# Runs on the deterministic doc_id % 2 = 0 half-corpus (mirrored by the
# driver query): the per-character hash fold exists only to verify the
# logic, so sampling buys the same oracle signal at half the cost. A
# coarser modulus was tried in round 5 and rejected: near-dup pair ids
# are random, so a 1/m slice keeps only ~1/m² of the verified pairs —
# %4 left a 1-row oracle. The family's cost is cut instead by sharing
# one persisted pairs prefix across the grouping/verification queries.
MINHASH_PORTABLE_SQL = """
WITH sh AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])
         ELSE [] END AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id % 2 = 0)),
ph AS (
  SELECT doc_id,
         list_transform(s, x ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(x[1:8], ''), c -> CAST(ord(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007)) AS hs
  FROM sh),
sig AS (
  SELECT doc_id,
         [list_min(list_transform(hs, h -> (h * (2654435761 + k) + 40503 * (k + 1)) % 1000000007))
          FOR k IN range(0, 32)] AS sg
  FROM ph),
banded AS (
  SELECT doc_id, t.b AS band,
         sg[CAST(t.b * 4 + 1 AS INTEGER):CAST(t.b * 4 + 4 AS INTEGER)] AS bsig
  FROM sig, range(0, 8) t(b))
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
"""


def _majority_sim_arrow(src: DataFrame, n_bits: int) -> DataFrame:
    """(doc_id, __sh_h array<long>) → (doc_id, simhash): per-bit
    majority vote (bit b set ⟺ 2·set_b > n_tokens) vectorized in one
    mapInArrow stage — per bit, a cumsum over the Arrow list VALUES
    buffer (``arrow_seams.list_parts``: zero-copy int64) differenced
    at the list offsets yields every doc's set-bit count in one pass.
    No explode, no shuffle, no
    per-token interpreted work. The majority bit pattern viewed as
    int64 equals the ±1-fold weight sum bit for bit (for n_bits = 64
    the top weight −2⁶³ IS the sign bit; for fewer bits all weights
    are positive). NULL hash list (NULL text) → NULL simhash —
    the expression folds' NULL propagation. split() never returns an
    empty list for non-null text, so every non-null row has ≥1 token;
    null rows are masked explicitly."""

    def batches(it):
        import numpy as np
        import pyarrow as pa

        one = np.uint64(1)
        for batch in it:
            ids = batch.column("doc_id")
            offs, vals, lens, valid = list_parts(batch.column("__sh_h"),
                                                 np.int64)
            uv = vals.view(np.uint64)
            sims = np.zeros(batch.num_rows, dtype=np.uint64)
            cs = np.empty(len(vals) + 1, dtype=np.int64)
            cs[0] = 0
            for b in range(n_bits):
                bit = ((uv >> np.uint64(b)) & one).astype(np.int64)
                np.cumsum(bit, out=cs[1:])
                cnt = cs[offs[1:]] - cs[offs[:-1]]
                sims |= (2 * cnt > lens).astype(np.uint64) << np.uint64(b)
            out = pa.array(sims.view(np.int64), pa.int64(), mask=~valid)
            yield pa.RecordBatch.from_arrays([ids, out],
                                             names=["doc_id", "simhash"])

    return src.mapInArrow(batches, "doc_id bigint, simhash bigint")


def simhash64(documents: DataFrame) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sign of Σ ±1 across
    token hashes — equivalently, bit b is set iff the majority of
    token hashes have bit b set (2·set_b > n_tokens).

    Scale shape: token hashes stay a JVM expression (xxhash64 per
    token — the wire-verification seam ``_prod_simhash_token_hash``
    monkeypatches cleanly), and ONLY (doc_id, hashes array<long>)
    crosses to the shared ``_majority_sim_arrow`` stage. r7 history:
    the per-token ±1 CASE fold was ~380 interpreted ops/token; the
    SWAR nibble-LUT fold cut that to 17 adds/token (0.83 → 0.60 s at
    sf0.1); the Arrow seam removes the interpreted fold entirely (sig
    stage 1.34 → 0.45 s) and handles every document length in one
    code path (the SWAR form needed a ≥2¹⁶-token fallback against
    16-bit counter overflow; int64 counts cannot overflow). Pinned by
    tests/test_round7.py::test_simhash64_swar_matches_per_bit_fold."""
    from . import spread

    hashes = F.transform(F.split("text", " "),
                         lambda w: _prod_simhash_token_hash(w))
    return _majority_sim_arrow(
        spread(documents).select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            hashes.alias("__sh_h")),
        64)


def _chunked_hamming_pairs(
    sigs: DataFrame, chunk_bits: int, materialize: bool = True,
) -> DataFrame:
    """Pigeonhole chunk-bucket join over a ``simhash`` column: a pair
    within ``_SIMHASH_MAX_HAMMING`` < ``_SIMHASH_CHUNKS`` shares ≥1
    exact chunk.

    The bucket cap drops (chunk_id, chunk) buckets bigger than 10000
    before the self-join: simhash values cluster on near-dup-heavy
    corpora, and one hot bucket would otherwise go quadratic on a
    single key (unbounded straggler at 100 TB). The chunk rows are
    localCheckpoint'ed before the shuffle (r7): the static plan
    otherwise embeds the whole signature-fold pipeline once per
    self-join side (plus the cap's count pass), and AQE's runtime
    exchange reuse is not guaranteed across differently-projected
    subtrees — the checkpoint pins fold-runs-once by construction and
    is 4 slim longs per (doc, chunk), no text. One explicit shuffle on
    the bucket key: self-join + count pass + semi-join all reuse the
    same exchange."""
    mask = (1 << chunk_bits) - 1
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned("simhash", chunk_bits * c).bitwiseAND(F.lit(mask))
                for c in range(_SIMHASH_CHUNKS)
            ])
        ).alias("chunk_id", "chunk"),
    )
    if materialize:
        chunks = chunks.localCheckpoint()
    chunks = chunks.repartition("chunk_id", "chunk")
    small = (
        chunks.groupBy("chunk_id", "chunk")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .where(F.col("bucket_n") <= _SIMHASH_BUCKET_CAP)
        .select("chunk_id", "chunk")
    )
    chunks = chunks.join(small, ["chunk_id", "chunk"], "left_semi")
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # hamming filter BEFORE the dedup exchange: most chunk-collisions
    # fail the distance test, so the distinct shuffles only the
    # surviving near-dup pairs instead of every candidate
    return (
        a.join(b, ["chunk_id", "chunk"])
        .where((F.col("a.doc_id") < F.col("b.doc_id")) & (hamming <= _SIMHASH_MAX_HAMMING))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )


def simhash_near_dups(documents: DataFrame) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash hamming distance ≤ 3, bucketed
    by 16-bit chunks (see _chunked_hamming_pairs)."""
    return _chunked_hamming_pairs(simhash64(documents), chunk_bits=16)


def simhash_portable32(documents: DataFrame) -> DataFrame:
    """32-bit SimHash over portable token hashes — the DuckDB-verifiable
    twin of ``simhash64`` (same fold, same majority rule; two seeded
    mixes of the polynomial token hash supply 16 reproducible bits
    each). Production keeps the 64-bit xxhash64 variant; this one
    exists so the whole simhash pipeline is hash-checked by an oracle."""
    from .text import _POLY_M, portable_token_hash

    from . import spread

    ph = F.transform(F.split("text", " "), portable_token_hash)

    def h32(p):
        m1 = (p * 48271 + 11) % _POLY_M
        m2 = (p * 69621 + 97) % _POLY_M
        return m1.bitwiseAND(F.lit(0xFFFF)) + m2.bitwiseAND(F.lit(0xFFFF)) * F.lit(65536)

    ws = F.transform(ph, h32)
    # r7: same Arrow majority seam as simhash64 — the 32 per-bit ±1
    # interpreted fold steps per token disappear; only
    # (doc_id, ws array<long>) crosses the boundary
    return _majority_sim_arrow(
        spread(documents).select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            ws.alias("__sh_h")),
        32)


def simhash_near_dups_portable(documents: DataFrame) -> DataFrame:
    """Portable-hash simhash near-dups: 4 × 8-bit chunks over the 32-bit
    signature; fully reproduced by SIMHASH_PORTABLE_SQL."""
    # materialize=False: the portable twin folds a quarter corpus with
    # the cheap 32-bit hash — re-running that fold per join side costs
    # less than the checkpoint's blocking job (measured 1.7 vs 2.0 s
    # at sf0.1; the prod 64-bit path measures the opposite way)
    return _chunked_hamming_pairs(
        simhash_portable32(documents), chunk_bits=8, materialize=False)


# Like MINHASH_PORTABLE_SQL, the oracle twin runs on a deterministic
# slice (doc_id % 4 = 0, mirrored by the driver query) — 145 verified
# pairs at sf0.01 at a quarter of the signature-fold cost.
SIMHASH_PORTABLE_SQL = """
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_transform(string_split(text, ' '), t ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(t[1:8], ''), c -> CAST(ord(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007)) AS hs
  FROM documents
  WHERE doc_id % 4 = 0),
h32 AS (
  SELECT doc_id,
         list_transform(hs, p -> (((p * 48271 + 11) % 1000000007) & 65535)
                               + ((((p * 69621 + 97) % 1000000007) & 65535) * 65536)) AS ws
  FROM h),
sim AS (
  SELECT doc_id,
         list_sum([CASE WHEN list_sum(list_transform(ws,
                     w -> CASE WHEN (w >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END
                   FOR b IN range(0, 32)]) AS s
  FROM h32),
chunks AS (
  SELECT doc_id, s, t.c AS chunk_id, (s >> (8 * CAST(t.c AS INTEGER))) & 255 AS chunk
  FROM sim, range(0, 4) t(c))
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
FROM chunks a JOIN chunks b USING (chunk_id, chunk)
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.s, b.s)) <= 3
"""


DEDUP_EXACT_SQL = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_docs,
       CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS dupes
FROM documents GROUP BY source
"""

NGRAM_JACCARD_SQL = """
WITH sh AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3)
SELECT a.id AS a_id, a.id + 1 AS b_id,
       CAST(FLOOR(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) * 10000) AS BIGINT)
         AS jaccard_x10k
FROM sh a JOIN sh b ON b.id = a.id + 1
"""


EXACT_KEY = ("h", "n_len", "h2")


def exact_key():
    """The exact-content group key of ``text`` as columns ``EXACT_KEY``:
    (xxhash64, length, crc32) — two independent hashes plus the length
    as collision discriminators. A single 64-bit hash silently merges
    distinct documents on collision, and at 10^12 docs expected
    xxhash64 collisions number in the thousands; the combined ~96+ bits
    push expected collisions below 10^-8 while the shuffled key stays
    20 bytes."""
    cols = (F.xxhash64("text"), F.length("text"), F.crc32("text"))
    return [c.alias(name) for name, c in zip(EXACT_KEY, cols)]


def dedup_keep_first(documents: DataFrame) -> DataFrame:
    """Canonical-doc selection: per exact content group (``exact_key``)
    keep the lowest doc_id (the standard keep-first exact-dedup output).
    Shuffles the group key + id only — never the document bodies."""
    return (
        documents.select(*exact_key(), F.col("doc_id").cast("bigint").alias("id"))
        .groupBy(*EXACT_KEY)
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).cast("bigint").alias("group_size"))
        .select("keep_id", "group_size")
    )


DEDUP_KEEP_FIRST_SQL = """
SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS group_size
FROM documents GROUP BY text
"""


def verify_pairs_jaccard(
    documents: DataFrame, cand: DataFrame, threshold_x10k: int = 3000,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate (a_id, b_id)
    pairs → thresholded near-dup pairs with ``jaccard_x10k``.

    The verify join ships shingle sets only for CANDIDATE pairs, so at
    100 TB the expensive exact comparison runs on a vanishing fraction
    of the n² pair space. Candidate DOCS are semi-join-filtered before
    shingling, so the verify stage never re-shingles the corpus — only
    the ≪ n docs that appear in some candidate pair; their shingle
    sets then broadcast to the pair join."""
    cand = cand.select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
    ).localCheckpoint(eager=True)  # small; feeds the id filter AND the join
    ids = cand.select(F.col("a_id").alias("id")).union(
        cand.select(F.col("b_id").alias("id"))).distinct()
    d = (
        documents.select(F.col("doc_id").cast("bigint").alias("id"), "text")
        .join(ids, "id", "left_semi")
        .select("id", _shingles(F.col("text"), _SHINGLE_N).alias("sh"))
    )
    a = d.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"))
    pairs = cand.join(F.broadcast(a), "a_id").join(F.broadcast(b), "b_id")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    # try_divide: two shingle-less docs (< 3 tokens) pair through the
    # '' band bucket with union == 0 — plain division THROWS under
    # ANSI (default since Spark 4). NULL jaccard fails the threshold
    # filter, matching DuckDB's 0/0 -> NULL in the twins; for
    # union > 0 try_divide is the exact same division.
    return (
        pairs.select(
            "a_id", "b_id",
            F.floor(F.try_divide(inter, union) * 10000)
            .cast("bigint").alias("jaccard_x10k"),
        )
        .where(F.col("jaccard_x10k") >= threshold_x10k)
    )


def minhash_neardup_verified(documents: DataFrame) -> DataFrame:
    """Complete MinHash dedup pipeline: LSH candidates → exact n-gram
    Jaccard verification (``verify_pairs_jaccard``, default threshold)
    → thresholded near-dup pairs."""
    return verify_pairs_jaccard(documents, minhash_lsh_pairs(documents))


# Min-label propagation needs one round per hop of a component's
# diameter, plus one to see no label change. Near-dup clusters are
# dense (diameter 1-2), so a chain long enough to hit this cap is
# pathological input, reported instead of silently split.
_CC_MAX_ROUNDS = 64


def connected_components(pairs):
    """Connected components over an undirected pair list — the step
    that turns near-dup PAIRS into dedup GROUPS (one canonical doc per
    component). Input: (a_id, b_id) rows; output: (doc_id, component)
    with component = the minimum doc_id of the node's component, one
    row per node appearing in ``pairs`` (self-loops count).

    Algorithm: min-label propagation run to its fixpoint. Each round,
    every node takes the minimum of its own label and its neighbors'
    labels — pure DataFrame joins/aggregations, shuffling only
    (id, label) longs — and the loop stops at the first round in which
    no label changed. Raises RuntimeError if labels still change after
    ``_CC_MAX_ROUNDS`` rounds, rather than return split components.
    The DuckDB twins (``_cc_rounds_sql``) and the Python prod twin run
    the same propagation to a fixed depth, which gives these labels
    whenever the depth covers every component's diameter.
    """
    from pyspark.sql import functions as F

    e = pairs.select(
        F.col("a_id").cast("bigint").alias("src"), F.col("b_id").cast("bigint").alias("dst")
    )
    # the pair pipeline (e.g. a full minhash-LSH run) is referenced by
    # BOTH union branches and by every round: materialize it exactly once
    e = e.localCheckpoint(eager=True)
    # r7 (same pattern as link_rank): materialize the undirected edge
    # list ONCE, pre-partitioned on src — the lazy form re-executed the
    # union+distinct inside every round's job, and the repartition
    # makes each round's edges⋈labels join co-partitioned (labels
    # descend from a distinct/groupBy on the same key space, so they
    # arrive hash-partitioned on id); the only per-round exchange left
    # is the neighbor-min groupBy — the one shuffle label propagation
    # fundamentally needs.
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().repartition("src").localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("label"))
    )
    for _ in range(_CC_MAX_ROUNDS):
        neigh = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("label").alias("nlabel"))
        )
        # each round references `labels` twice; without truncation the
        # logical plan doubles per iteration (2^rounds operators — OOMs
        # the driver around 12 rounds). Iterative Spark algorithms
        # checkpoint per iteration for exactly this reason (GraphX/
        # GraphFrames do the same); the eager checkpoint also feeds the
        # fixpoint count below.
        stepped = labels.join(neigh, labels.id == F.col("nid"), "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            F.col("label").alias("prev"),
        ).localCheckpoint(eager=True)
        changed = stepped.where(F.col("label") != F.col("prev")).count()
        labels = stepped.drop("prev")
        if changed == 0:
            return labels.select(
                F.col("id").alias("doc_id"), F.col("label").alias("component")
            )
    raise RuntimeError(
        f"connected_components did not converge within {_CC_MAX_ROUNDS} "
        f"rounds (a component's diameter exceeds the cap)")


def dedup_groups(documents, portable: bool = False,
                 verify_threshold_x10k: int | None = None,
                 pairs: DataFrame | None = None):
    """Full dedup grouping: MinHash-LSH candidate pairs → connected
    components → (doc_id, component, is_canonical). The canonical doc
    of each group is its minimum doc_id (= the component label).

    ``verify_threshold_x10k``: when set, LSH candidate pairs are exact-
    Jaccard-verified (``verify_pairs_jaccard``) before grouping, so a
    banding false positive (two genuinely dissimilar docs colliding in
    one band — ~6% at Jaccard 0.3 with 8 bands of 4) cannot merge
    unrelated docs into one group. Destructive consumers (curation
    delete steps) should always set this; None keeps the raw-candidate
    grouping for analysis/oracle use.

    ``pairs``: precomputed LSH candidate (a_id, b_id) pairs. The
    signature fold + band shuffle is the expensive prefix shared by
    every query in this family — compute it once (or read it from a
    persisted run) and pass it here instead of re-deriving it per
    grouping variant. Must come from the same documents slice and
    banding parameters, which this function then ignores."""
    from pyspark.sql import functions as F

    if pairs is None:
        pairs = minhash_lsh_pairs(documents, portable=portable)
    if verify_threshold_x10k is not None:
        pairs = verify_pairs_jaccard(documents, pairs,
                                     threshold_x10k=verify_threshold_x10k)
    return connected_components(pairs).select(
        "doc_id", "component",
        F.when(F.col("doc_id") == F.col("component"), 1).otherwise(0)
        .cast("int").alias("is_canonical"),
    )


def dedup_report(documents, pairs):
    """Pre-delete audit of a verified dedup run: one row per would-be
    dedup GROUP — the report a curation pipeline reads BEFORE running
    the destructive keep-first delete. Output (component, n_docs,
    n_pairs, min_jaccard_x10k, max_jaccard_x10k, chars_dropped):
    component = the group's canonical (minimum) doc_id, n_pairs = its
    verified near-dup pairs, the jaccard range says how tight the
    cluster is (a low min flags a chained merge worth inspecting), and
    chars_dropped = the text volume the delete would reclaim (sum over
    non-canonical members).

    Scale shape: ``pairs`` are the LSH candidates (the shareable banded
    prefix), exact-Jaccard verified at ``_VERIFY_THRESHOLD`` on
    candidate docs only, min-label propagation for components; the
    stats are two partial aggregations over (id, longs) rows joined on
    the 8-byte component key — the corpus text is read once for
    lengths and never shuffled."""
    from pyspark.sql import functions as F

    verified = verify_pairs_jaccard(
        documents, pairs, threshold_x10k=_VERIFY_THRESHOLD)
    # feeds BOTH the label propagation and the pair-stats aggregation:
    # materialize once (same pattern as verify's cand)
    verified = verified.localCheckpoint(eager=True)
    cc = connected_components(verified)
    sizes = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.length("text").cast("bigint").alias("doc_chars"))
    dstats = (
        cc.join(sizes, "doc_id")
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum(F.when(F.col("doc_id") != F.col("component"),
                          F.col("doc_chars")).otherwise(F.lit(0)))
             .cast("bigint").alias("chars_dropped"))
    )
    pstats = (
        verified.join(cc.withColumnRenamed("doc_id", "a_id"), "a_id")
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
             F.min("jaccard_x10k").alias("min_jaccard_x10k"),
             F.max("jaccard_x10k").alias("max_jaccard_x10k"))
    )
    return dstats.join(pstats, "component").select(
        "component", "n_docs", "n_pairs", "min_jaccard_x10k",
        "max_jaccard_x10k", "chars_dropped")


def _cc_rounds_sql(rounds: int) -> str:
    """The DuckDB twin of connected_components: ``rounds`` min-label
    propagation steps, generated as chained CTEs (recursive CTEs cannot
    aggregate over the recursive term). A fixed depth equals
    connected_components' converged labels once it covers every
    component's diameter; the twins below use 8 or 12 on corpora whose
    near-dup clusters have diameter 1-2."""
    steps = []
    for k in range(1, rounds + 1):
        prev = f"l{k - 1}"
        # MATERIALIZED: each round references the previous twice; an
        # inlined CTE would re-evaluate the whole chain exponentially
        steps.append(
            f"l{k} AS MATERIALIZED (\n"
            f"  SELECT p.id, LEAST(p.label, COALESCE(m.nl, p.label)) AS label\n"
            f"  FROM {prev} p LEFT JOIN (\n"
            f"    SELECT e.dst AS id, MIN(p2.label) AS nl\n"
            f"    FROM edges e JOIN {prev} p2 ON p2.id = e.src GROUP BY e.dst) m\n"
            f"  USING (id))"
        )
    return ",\n".join(steps)


# dedup_groups(portable=True) oracle: portable minhash pairs (the
# MINHASH_PORTABLE_SQL candidate logic, same %2 sample) → undirected
# edges → 8 rounds of min-label propagation → groups. 8 rounds equal
# dedup_groups' converged components on the compared corpora (largest
# diameter 1-2). Assembled by folding MINHASH_PORTABLE_SQL's final
# SELECT into a `pairs` CTE.
_MINHASH_CTE_HEAD, _MINHASH_FINAL_SELECT = MINHASH_PORTABLE_SQL.rstrip().split(
    "SELECT DISTINCT", 1
)
DEDUP_GROUPS_PORTABLE_SQL = (
    _MINHASH_CTE_HEAD
    + ",\npairs AS MATERIALIZED (SELECT DISTINCT"
    + _MINHASH_FINAL_SELECT
    + "),\n"
    + """edges AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs),
l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges),
"""
    + _cc_rounds_sql(8)
    + """
SELECT id AS doc_id, label AS component,
       CAST(CASE WHEN id = label THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
FROM l8
"""
)

# dedup_groups_star oracle: the registry key kept for its name, now the
# same dedup_groups(portable=True) call as dedup_groups_portable. Its
# twin runs 12 rounds of the same propagation, which equal the
# converged components on the compared corpora (near-dup clusters are
# template duplicates: dense, diameter 1-2).
DEDUP_GROUPS_STAR_SQL = (
    _MINHASH_CTE_HEAD
    + ",\npairs AS MATERIALIZED (SELECT DISTINCT"
    + _MINHASH_FINAL_SELECT
    + "),\n"
    + """edges AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs),
l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges),
"""
    + _cc_rounds_sql(12)
    + """
SELECT id AS doc_id, label AS component,
       CAST(CASE WHEN id = label THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
FROM l12
"""
)


# verify_pairs_jaccard oracle (portable twin): banded-LSH candidates
# re-scored with exact word-3-gram Jaccard, thresholded at 7000 — the
# SAME floor curate_job's destructive dedup_near step defaults to, so
# the configuration that deletes documents is the one hash-verified.
# The `sh` shingle CTE from the minhash head is the same set Spark's
# _shingles builds, so jaccard_x10k hash-matches exactly.
# single source of truth for the verified-family twins' exact-Jaccard
# expression and the shipping verify threshold (mirrors
# verify_pairs_jaccard + curate_job's 7000): three twins compose these
# so the oracle-critical expression can never drift between them.
# DuckDB's 0/0 -> NULL here mirrors the Spark side's try_divide.
_JACCARD_X10K_SQL = (
    "CAST(FLOOR(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
    "/ CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) "
    "* 10000) AS BIGINT)")
_VERIFY_THRESHOLD = 7000

NEARDUP_VERIFIED_PORTABLE_SQL = (
    _MINHASH_CTE_HEAD
    + ",\npairs AS MATERIALIZED (SELECT DISTINCT"
    + _MINHASH_FINAL_SELECT
    + "),\n"
    + f"""verified AS (
  SELECT p.a_id, p.b_id,
         {_JACCARD_X10K_SQL} AS jaccard_x10k
  FROM pairs p
  JOIN sh a ON a.doc_id = p.a_id
  JOIN sh b ON b.doc_id = p.b_id)
SELECT a_id, b_id, jaccard_x10k FROM verified
WHERE jaccard_x10k >= {_VERIFY_THRESHOLD}
"""
)

# dedup_groups(verify_threshold_x10k=7000) oracle: components over the
# VERIFIED pair set (the destructive-consumer configuration curate_job
# uses) — 12 rounds of propagation, equal to the converged components
# on the compared corpora as in the twin above.
DEDUP_GROUPS_VERIFIED_SQL = (
    _MINHASH_CTE_HEAD
    + ",\ncand AS MATERIALIZED (SELECT DISTINCT"
    + _MINHASH_FINAL_SELECT
    + "),\n"
    + f"""pairs AS MATERIALIZED (
  SELECT p.a_id, p.b_id
  FROM cand p
  JOIN sh a ON a.doc_id = p.a_id
  JOIN sh b ON b.doc_id = p.b_id
  WHERE {_JACCARD_X10K_SQL} >= {_VERIFY_THRESHOLD}),
edges AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs),
l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges),
"""
    + _cc_rounds_sql(12)
    + """
SELECT id AS doc_id, label AS component,
       CAST(CASE WHEN id = label THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
FROM l12
"""
)


# dedup_report twin: the verified-groups chain with the jaccard kept
# as a column, then the two per-component aggregations (pair stats +
# member/chars stats). The 12-round min-label CTE equals the converged
# components on the compared corpora (as in DEDUP_GROUPS_VERIFIED_SQL).
DEDUP_REPORT_SQL = (
    _MINHASH_CTE_HEAD
    + ",\ncand AS MATERIALIZED (SELECT DISTINCT"
    + _MINHASH_FINAL_SELECT
    + "),\n"
    + f"""pairsj AS MATERIALIZED (
  SELECT p.a_id, p.b_id,
         {_JACCARD_X10K_SQL} AS jaccard_x10k
  FROM cand p
  JOIN sh a ON a.doc_id = p.a_id
  JOIN sh b ON b.doc_id = p.b_id),
pairs AS MATERIALIZED (
  SELECT a_id, b_id, jaccard_x10k FROM pairsj
  WHERE jaccard_x10k >= {_VERIFY_THRESHOLD}),
edges AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs),
l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges),
"""
    + _cc_rounds_sql(12)
    + """,
comp AS (SELECT id AS doc_id, label AS component FROM l12),
pstats AS (
  SELECT c.component,
         CAST(count(*) AS BIGINT) AS n_pairs,
         MIN(p.jaccard_x10k) AS min_jaccard_x10k,
         MAX(p.jaccard_x10k) AS max_jaccard_x10k
  FROM pairs p JOIN comp c ON c.doc_id = p.a_id GROUP BY c.component),
dstats AS (
  SELECT c.component,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN c.doc_id <> c.component THEN len(d.text)
                  ELSE 0 END) AS BIGINT) AS chars_dropped
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
  GROUP BY c.component)
SELECT d.component, d.n_docs, p.n_pairs,
       p.min_jaccard_x10k, p.max_jaccard_x10k, d.chars_dropped
FROM dstats d JOIN pstats p USING (component)
"""
)


_KMV_M = 1_000_000_007


def kmv_distinct(documents: DataFrame) -> DataFrame:
    """K-minimum-values distinct-count sketch per source — the
    mergeable theta-family sketch behind approx-distinct at scale: keep
    the k smallest (distinct) hash values of a group; the k-th minimum
    estimates the hash density, so distinct ≈ (k−1)·M / h_k. Exact when
    a group has fewer than k distinct hashes.

    Plan: hash each text (portable char fold mod 1e9+7, exactly
    reproducible in the DuckDB oracle — production swaps in xxhash64),
    distinct on (source, hash) — the only shuffle, carrying 8-byte
    hashes, never bodies — then a per-source rank window truncated at
    k. All integer math, so the ESTIMATE itself hash-matches the
    oracle. A datasketches-style partial-agg would bound the shuffle at
    k values per partition instead of all distinct hashes; the distinct
    hash set is already ~10^-4 of corpus bytes, so this shape holds."""
    from .hashing import char_fold

    h = char_fold(F.col("text"), _KMV_M)
    return _kmv_estimate(documents.select("source", h.alias("h")), _KMV_K)


def _kmv_estimate(hashes: DataFrame, k: int) -> DataFrame:
    """Shared KMV tail: (source, h) distinct hash rows → per-source
    (distinct_est, kth_hash). The rank window is per-source top-k only
    (row_number truncated at k), never a global sort."""
    hashes = hashes.distinct()
    w = Window.partitionBy("source").orderBy("h")
    ranked = hashes.withColumn("r", F.row_number().over(w)).where(F.col("r") <= k)
    agg = ranked.groupBy("source").agg(
        F.max("r").cast("bigint").alias("n_min"),
        F.max(F.when(F.col("r") == k, F.col("h"))).alias("hk"),
    )
    est = (
        F.when(F.col("n_min") < k, F.col("n_min"))
        .when(F.col("hk") > 0, F.floor(F.lit((k - 1) * _KMV_M) / F.col("hk")))
        .otherwise(F.col("n_min"))
    )
    return agg.select(
        "source", est.cast("bigint").alias("distinct_est"),
        F.coalesce("hk", F.lit(-1)).cast("bigint").alias("kth_hash"),
    )


KMV_DISTINCT_SQL = """
WITH h AS (
  SELECT DISTINCT source,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 1000000007) AS h
  FROM documents),
ranked AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r
  FROM h QUALIFY r <= 64),
agg AS (
  SELECT source, CAST(MAX(r) AS BIGINT) AS n_min,
         MAX(CASE WHEN r = 64 THEN h END) AS hk
  FROM ranked GROUP BY source)
SELECT source,
       CAST(CASE WHEN n_min < 64 THEN n_min
                 WHEN hk > 0 THEN FLOOR(CAST(63 AS BIGINT) * 1000000007 / hk)
                 ELSE n_min END AS BIGINT) AS distinct_est,
       CAST(COALESCE(hk, -1) AS BIGINT) AS kth_hash
FROM agg
"""


def kmv_distinct_partial(documents: DataFrame) -> DataFrame:
    """``kmv_distinct`` with datasketches-style PARTIAL AGGREGATION:
    each input partition locally keeps only its k smallest distinct
    hash values per source before anything shuffles, so the exchange
    carries at most k · n_sources rows **per partition** instead of
    every distinct hash in the corpus — the map-side-combine shape a
    100-TB sketch needs (the plain variant's distinct shuffles one row
    per distinct document).

    Bit-identical to ``kmv_distinct`` by construction: the k smallest
    distinct values of a union are a subset of the union of each part's
    k smallest distinct values, so capping per partition loses nothing
    the global top-k would keep. Same DuckDB oracle
    (``KMV_DISTINCT_SQL``) verifies both.

    The hash itself stays JVM-side (same portable char fold); the
    Arrow-batched Python stage (``_kmv_cap``) only does the numpy
    per-partition cap over (source, h) — O(k · sources) state,
    vectorized."""
    from .hashing import char_fold

    k = _KMV_K  # read on the driver: the worker closure gets the value
    h = char_fold(F.col("text"), _KMV_M)
    hashes = documents.select("source", h.alias("h"))
    capped = hashes.mapInArrow(lambda batches: _kmv_cap(batches, k),
                               schema="source string, h long")
    return _kmv_estimate(capped, k)


def _kmv_cap(batches, k: int):
    """One partition's (source, h) batches → its k smallest distinct
    rows per source. A NULL source is a group of its own and a NULL
    hash sorts first, as in ``kmv_distinct``'s window."""
    import numpy as np
    import pyarrow as pa

    def _k_smallest(t):
        # distinct rows sorted on (source group, h non-NULL, h); keep
        # each group's first k
        src = t.column("source").combine_chunks().dictionary_encode().indices
        hv = t.column("h").combine_chunks()
        key, first = np.unique(np.stack(
            [src.fill_null(-1).to_numpy(), hv.is_valid().to_numpy(zero_copy_only=False),
             hv.fill_null(0).to_numpy()], axis=1), axis=0, return_index=True)
        pos = np.arange(len(first))
        start = np.diff(key[:, 0], prepend=key[:1, 0] - 1) != 0
        return t.take(first[pos - np.maximum.accumulate(np.where(start, pos, 0)) < k])

    acc = []
    for batch in batches:
        acc = _k_smallest(pa.Table.from_batches([*acc, batch])).to_batches()
    yield from acc


def dedup_incremental(new_docs: DataFrame, ref_docs: DataFrame) -> DataFrame:
    """Cross-snapshot dedup: classify each NEW document against an
    existing reference corpus — the continuous-ingest shape (each crawl
    snapshot deduped against everything already kept) that a self-join
    ``minhash_lsh_pairs`` over old+new would pay quadratically for.
    Output: (doc_id, status) for every new doc, status ∈
    {'exact', 'near', 'kept'} with exact taking precedence.

    - exact: md5(text) LEFT SEMI join against the ref corpus's
      DISTINCT hash set — partial-agg distinct, 16-byte keys, never
      the texts themselves on the wire.
    - near: the new batch's LSH band buckets semi-joined against the
      ref corpus's DISTINCT (band, band_sig) set. Distinct caps a
      stop-bucket's ref side at ONE row, so a hot bucket costs one
      probe, not |bucket|² — the asymmetry that makes incremental
      dedup linear in the new batch. Docs under ``_SHINGLE_N`` tokens
      carry no shingles and never match the near path (both engines
      filter them before the signature fold, so no side bands a
      shingle-less doc to the degenerate '' bucket).

    Each side minhashes here with the portable hash family; the
    registry query measured that a persisted banded prefix costs more
    than the fold it saves.
    """
    ids = new_docs.select(F.col("doc_id").cast("bigint").alias("doc_id"))

    exact_ref = ref_docs.select(F.md5("text").alias("h")).distinct()
    exact = (
        new_docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                        F.md5("text").alias("h"))
        .join(exact_ref, "h", "left_semi")
        .select("doc_id").withColumn("is_exact", F.lit(1))
    )

    long_enough = F.size(F.split("text", " ")) >= _SHINGLE_N

    def buckets(docs):
        return banded_signatures(
            minhash_signatures(docs.where(long_enough), portable=True))

    new_b = buckets(new_docs)
    ref_b = buckets(ref_docs).select("band", "band_sig").distinct()
    near = (
        new_b.join(ref_b, ["band", "band_sig"], "left_semi")
        .select("doc_id").distinct().withColumn("is_near", F.lit(1))
    )

    return (
        ids.join(exact, "doc_id", "left").join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact") == 1, "exact")
            .when(F.col("is_near") == 1, "near")
            .otherwise("kept").alias("status"),
        )
    )


# Twin of dedup_incremental(new = odd doc_ids, ref = even doc_ids):
# one banded CTE over the whole corpus (same
# polynomial-hash chain as MINHASH_PORTABLE_SQL), split by parity at
# the join.
DEDUP_INCREMENTAL_SQL = """
WITH sh AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(toks) >= 3)),
ph AS (
  SELECT doc_id,
         list_transform(s, x ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(x[1:8], ''), c -> CAST(ord(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007)) AS hs
  FROM sh),
sig AS (
  SELECT doc_id,
         [list_min(list_transform(hs, h -> (h * (2654435761 + k) + 40503 * (k + 1)) % 1000000007))
          FOR k IN range(0, 32)] AS sg
  FROM ph),
banded AS (
  SELECT doc_id, t.b AS band,
         sg[CAST(t.b * 4 + 1 AS INTEGER):CAST(t.b * 4 + 4 AS INTEGER)] AS bsig
  FROM sig, range(0, 8) t(b)),
near AS (
  SELECT DISTINCT nw.doc_id
  FROM banded nw JOIN banded rf
    ON nw.band = rf.band AND nw.bsig = rf.bsig
   AND nw.doc_id % 2 = 1 AND rf.doc_id % 2 = 0),
exact AS (
  SELECT DISTINCT CAST(nw.doc_id AS BIGINT) AS doc_id
  FROM documents nw
  WHERE nw.doc_id % 2 = 1
    AND md5(nw.text) IN (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0))
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN nr.doc_id IS NOT NULL THEN 'near'
            ELSE 'kept' END AS status
FROM documents d
LEFT JOIN exact e ON d.doc_id = e.doc_id
LEFT JOIN near nr ON d.doc_id = nr.doc_id
WHERE d.doc_id % 2 = 1
"""
