"""Deterministic sampling & corpus-mixing operators for training-data
curation: stratified keep-rates, target-proportion corpus mixing, and
per-stratum fixed-size samples.

Every operator here is DETERMINISTIC — acceptance is a pure function of
doc_id via a multiplicative hash, never an RNG — because training-data
pipelines need reproducible subsets (same config → same corpus, on any
cluster size, with any partitioning). All acceptance math is INTEGER
(parts-per-million rates, floor division) so the DuckDB oracles match
bit-for-bit; production at 10^12 docs swaps the multiplicative hash for
``xxhash64`` with zero plan change (the hash is one projected column).

Scale shapes:
- ``stratified_sample``: pure filter — zero shuffle, fully pushed into
  the scan's partitioning; throughput = scan speed.
- ``corpus_mix``: one tiny per-stratum count aggregate (bytes: one row
  per stratum), broadcast back — the corpus itself never shuffles.
- ``stratified_topk_sample``: hash-rank window per stratum; Catalyst
  plans the per-group top-k with partial TakeOrdered, not a global
  sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PPM = 1_000_000
# Knuth multiplicative hash (2^32 golden ratio); doc_id * KNUTH stays
# far inside int64 for any realistic id space
_KNUTH = 2654435761
# rank-weighted acceptance doubles rank_ppm, unranked docs sit at the
# PageRank floor; the salts of the ppl mix and of the shard hashes; the
# registry's shard count
_RANK_MULT, _RANK_BASE_PPM = 2, 150_000
_PPL_SALT, _SHARD_SALT, _N_SHARDS = 77773, 50923, 64
# corpus_mix's per-lang target shares (ppm) of its sample size, and the
# per-stratum size of stratified_topk_sample
_MIX_TARGETS = {"de": 200000, "en": 500000, "es": 100000, "fr": 200000}
_MIX_TOTAL, _TOPK_PER_STRATUM = 200, 10


def _accept_ppm_hash(col, salt: int = 0):
    """Deterministic pseudo-uniform value in [0, 1e6) from a long id.
    ``salt`` decorrelates independent decisions over the same ids
    (sampling acceptance vs split assignment)."""
    return (col * F.lit(_KNUTH) + F.lit(salt)) % F.lit(4294967296) % F.lit(_PPM)


def stratified_sample(documents: DataFrame, rates: dict[str, int],
                      strata_col: str = "lang") -> DataFrame:
    """Keep each document with a per-stratum probability given in parts
    per million — the quota knob of corpus curation ("keep 25% of web,
    all of books"). Pure filter: no shuffle, no RNG, reproducible under
    any partitioning. Unknown strata are kept whole."""
    rate = F.lit(_PPM)
    for key, ppm in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == key, F.lit(int(ppm))).otherwise(rate)
    return (
        documents
        .where(_accept_ppm_hash(F.col("doc_id")) < rate)
        .select("doc_id", strata_col, "source", "n_chars")
    )


def corpus_mix(documents: DataFrame) -> DataFrame:
    """Sample toward TARGET PROPORTIONS: given per-``lang`` target
    shares (``_MIX_TARGETS``, ppm of ``_MIX_TOTAL``), derive each
    stratum's acceptance rate from its actual count and keep documents
    deterministically —
    the "mix 50% web, 30% books, 20% code" step of building a training
    corpus. A stratum smaller than its quota is kept whole (rate capped
    at 100%; no oversampling).

    All integer math: want = _MIX_TOTAL * target_ppm / 1e6 (floor),
    accept_ppm = min(1e6, want * 1e6 / count) (floor) — so the DuckDB
    twin reproduces acceptance exactly. One tiny count aggregate (one
    row per stratum) broadcast back onto the corpus; the corpus itself
    never shuffles."""
    strata_col = "lang"
    targets_df = documents.sparkSession.createDataFrame(
        sorted(_MIX_TARGETS.items()), f"{strata_col} string, target_ppm long")
    counts = documents.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
    rates = (
        counts.join(F.broadcast(targets_df), strata_col, "inner")
        # DIV keeps everything in exact int64 arithmetic — float
        # division would eventually disagree with the oracle's `//`
        .selectExpr(
            strata_col,
            f"least(CAST({_PPM} AS BIGINT), "
            f"((target_ppm * CAST({_MIX_TOTAL} AS BIGINT)) DIV {_PPM})"
            f" * {_PPM} DIV n) AS accept_ppm",
        )
    )
    return (
        documents.join(F.broadcast(rates), strata_col, "inner")
        .where(_accept_ppm_hash(F.col("doc_id")) < F.col("accept_ppm"))
        .select("doc_id", strata_col, "source", "accept_ppm")
    )


def stratified_topk_sample(documents: DataFrame) -> DataFrame:
    """Exactly-k-per-``lang`` deterministic sample (k =
    ``_TOPK_PER_STRATUM``): rank documents by hash within each stratum
    and keep the k smallest — a fixed-size
    uniform-without-replacement sample that is stable across runs and
    cluster layouts (the reservoir-sampling use case, without reservoir
    state). Ties are impossible on distinct doc_ids; Catalyst plans the
    rank window as per-group top-k, not a global sort."""
    w = Window.partitionBy("lang").orderBy(
        _accept_ppm_hash(F.col("doc_id")).asc(), F.col("doc_id").asc())
    return (
        documents
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= _TOPK_PER_STRATUM)
        .select("doc_id", "lang", F.col("sample_rank").cast("int").alias("sample_rank"))
    )


def length_histogram(documents: DataFrame) -> DataFrame:
    """Log2-bucketed length distribution per source — the corpus-QA
    summary (spot truncation, boilerplate spikes, length skew before
    training). Partial-aggregates map-side; the shuffle carries one row
    per (source, bucket)."""
    # floor(log2(x)) as len(bin(x)) - 1: exact integer math on both
    # engines (Spark's LOG2 is log(x)/log(2) in doubles — its floor can
    # disagree with DuckDB's libm exactly at bucket boundaries)
    bucket = (F.length(F.bin(F.col("n_chars") + F.lit(1))) - 1).cast("bigint")
    return (
        documents.groupBy("source", bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
        .select("source", "len_bucket", "docs", "chars")
    )


STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE (doc_id * 2654435761) % 4294967296 % 1000000 <
      CASE lang WHEN 'de' THEN 100000
                WHEN 'en' THEN 250000
                WHEN 'fr' THEN 500000
                ELSE 1000000 END
"""

CORPUS_MIX_SQL = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
targets(lang, target_ppm) AS (
  VALUES ('de', 200000), ('en', 500000), ('es', 100000), ('fr', 200000)),
rates AS (
  SELECT c.lang,
         LEAST(1000000,
               ((t.target_ppm * 200) // 1000000) * 1000000 // c.n)
           AS accept_ppm
  FROM counts c JOIN targets t USING (lang))
SELECT d.doc_id, d.lang, d.source, CAST(r.accept_ppm AS BIGINT) AS accept_ppm
FROM documents d JOIN rates r USING (lang)
WHERE (d.doc_id * 2654435761) % 4294967296 % 1000000 < r.accept_ppm
"""

STRATIFIED_TOPK_SQL = """
SELECT doc_id, lang, CAST(sample_rank AS INTEGER) AS sample_rank
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY (doc_id * 2654435761) % 4294967296 % 1000000, doc_id)
           AS sample_rank
  FROM documents)
WHERE sample_rank <= 10
"""

LENGTH_HISTOGRAM_SQL = """
SELECT source,
       CAST(LENGTH(BIN(n_chars + 1)) - 1 AS BIGINT) AS len_bucket,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM documents
GROUP BY source, len_bucket
"""


def rank_weighted_sample(documents: DataFrame, ranks: DataFrame) -> DataFrame:
    """Quality-prior sampling: keep each document with probability
    proportional to its link-graph rank (``tdp.ranking.link_rank``
    output) — the rank-weighted corpus-selection step of a web-crawl
    pipeline (high-authority pages oversampled, low-rank tail thinned).

    accept_ppm = least(1e6, rank_ppm · mult) — all integer math on the
    same deterministic acceptance hash as ``stratified_sample``, so the
    DuckDB twin reproduces the kept set exactly. Docs missing from the
    rank table fall back to ``_RANK_BASE_PPM`` (the PageRank floor). One
    equi-join on doc_id (both sides shuffle 8-byte keys + a long);
    the filter itself stays a pure scan predicate."""
    r = ranks.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                     F.col("rank_ppm").cast("bigint").alias("rank_ppm"))
    d = documents.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                         "lang", "source", "n_chars")
    eff = F.coalesce("rank_ppm", F.lit(_RANK_BASE_PPM)).cast("long")
    accept = F.least(F.lit(_PPM).cast("long"), eff * _RANK_MULT)
    return (
        d.join(r, "doc_id", "left")
        .where(_accept_ppm_hash(F.col("doc_id")) < accept)
        .select("doc_id", "lang", "source", "n_chars",
                eff.alias("rank_ppm"))
    )


def _rank_weighted_sql() -> str:
    from .ranking import LINK_RANK_SQL

    return f"""
WITH ranks AS ({LINK_RANK_SQL}),
docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source, n_chars
         FROM documents)
SELECT d.doc_id, d.lang, d.source, d.n_chars,
       CAST(COALESCE(r.rank_ppm, {_RANK_BASE_PPM}) AS BIGINT) AS rank_ppm
FROM docs d LEFT JOIN ranks r USING (doc_id)
WHERE (d.doc_id * 2654435761) % 4294967296 % 1000000 <
      LEAST(1000000, COALESCE(r.rank_ppm, {_RANK_BASE_PPM}) * {_RANK_MULT})
"""


RANK_WEIGHTED_SAMPLE_SQL = _rank_weighted_sql()


def dataset_split(documents: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment — the split every
    training pipeline needs to be REPRODUCIBLE and GROWTH-STABLE: the
    bucket is a pure function of the id (salted multiplicative hash),
    so re-running on a grown corpus never moves an existing document
    between splits, and the same config yields the same split on any
    cluster size / partitioning.

    The salt decorrelates the split from ``stratified_sample``'s
    unsalted acceptance hash (a doc's keep decision and its split are
    independent). ``split_expr`` takes the id column and rates: to
    prevent near-duplicate leakage across splits, hash the canonical id
    from ``dedup_groups`` there (curate_job's ``--split-id-col``) —
    every member of a duplicate cluster then lands in the same split.

    Pure projection: zero shuffle, zero aggregation; throughput =
    scan speed at any scale. Output: (doc_id, split).
    """
    return documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        split_expr().alias("split"),
    )


def split_expr(id_col: str = "doc_id", train_ppm: int = 800_000,
               val_ppm: int = 100_000):
    """The train/val/test bucket as a bare Column — lets pipelines
    (jobs/curate_job.py ``split`` step) annotate rows in place with
    zero shuffle instead of joining ``dataset_split``'s output back."""
    h = _accept_ppm_hash(F.col(id_col), salt=99991)
    return (
        F.when(h < train_ppm, "train")
        .when(h < train_ppm + val_ppm, "val")
        .otherwise("test")
    )


DATASET_SPLIT_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN h < 800000 THEN 'train'
            WHEN h < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             (doc_id * 2654435761 + 99991) % 4294967296 % 1000000 AS h
      FROM documents)
"""


def perplexity_bucket_mix(
    documents: DataFrame, head_ppm: int = 1_000_000,
    middle_ppm: int = 500_000, tail_ppm: int = 100_000,
) -> DataFrame:
    """CCNet-style perplexity-bucketed corpus mixing: per language,
    split documents into head/middle/tail TERTILES of LM surprisal
    (``tdp.text.lm_bigram_score`` — low bits = fluent) and keep each
    bucket at its own deterministic ppm rate — the "keep the fluent
    third, downsample the noisy tail" mix every web-corpus pipeline
    runs after quality filtering. Output:
    (doc_id, lang, bits_x1000, bucket, kept). Docs with fewer than
    two tokens carry no surprisal and are omitted (same contract as
    lm_bigram_score); a NULL lang groups as 'und' rather than
    silently dropping out of the lang equi-joins.

    Scale shape — EXACT tertiles without a per-lang sort: surprisal
    is integer thousandths of whole bits per bigram, so its value
    space is <= ~64,000 distinct values regardless of corpus size.
    Counting docs per (lang, bits_x1000) is a partial-agg shuffle of
    short keys; the cumulative sum then runs over a VALUE-SPACE
    bounded group (never corpus-cardinality — the shape the plan
    audit's window discipline demands), thresholds are two rows per
    lang broadcast back, and the bucket+keep decision is a pure
    projection. A quantile-by-sort would put a whole language in one
    reducer task; this never holds more than the score histogram.
    """
    from .text import lm_bigram_score

    lm = lm_bigram_score(documents).select("doc_id", "bits_x1000")
    # lang NULL would silently vanish at the equi-joins below (NULL
    # never matches); fold it into its own 'und' group instead so
    # every scored doc gets a bucket+keep decision.
    sc = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.coalesce(F.col("lang"), F.lit("und")).alias("lang")).join(
        lm, "doc_id")
    # the scored rows feed BOTH the histogram/threshold branch and the
    # final bucket projection; without a barrier the static plan embeds
    # the whole lm_bigram_score subtree (two corpus-token count
    # shuffles + joins) once per reference (r7, guide §2.4). The
    # checkpointed payload is three slim columns per doc.
    sc = sc.localCheckpoint(eager=False)
    cnt = sc.groupBy("lang", "bits_x1000").agg(
        F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy("bits_x1000")
    cum = cnt.select("lang", "bits_x1000", F.sum("c").over(w).alias("cum"))
    # per-lang totals from the (lang, score) histogram — summing cnt
    # re-aggregates <= 64k short rows instead of re-executing the
    # whole lm_bigram_score join subtree a third time
    nt = cnt.groupBy("lang").agg(F.sum("c").alias("ntot"))
    th = (
        cum.join(nt, "lang")
        .withColumn("tgt1", F.expr("(ntot + 2) DIV 3"))
        .withColumn("tgt2", F.expr("(2 * ntot + 2) DIV 3"))
        .groupBy("lang")
        .agg(
            F.min(F.when(F.col("cum") >= F.col("tgt1"),
                         F.col("bits_x1000"))).alias("t1"),
            F.min(F.when(F.col("cum") >= F.col("tgt2"),
                         F.col("bits_x1000"))).alias("t2"),
        )
    )
    bucket = (
        F.when(F.col("bits_x1000") <= F.col("t1"), "head")
        .when(F.col("bits_x1000") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    rate = (
        F.when(bucket == "head", F.lit(int(head_ppm)))
        .when(bucket == "middle", F.lit(int(middle_ppm)))
        .otherwise(F.lit(int(tail_ppm)))
    )
    kept = (_accept_ppm_hash(F.col("doc_id"), salt=_PPL_SALT) < rate).cast("int")
    return sc.join(F.broadcast(th), "lang").select(
        "doc_id", "lang", "bits_x1000",
        bucket.alias("bucket"), kept.alias("kept"))


def _perplexity_bucket_mix_sql() -> str:
    """The twin of ``perplexity_bucket_mix`` at its default rates."""
    from .text import LM_BIGRAM_SQL

    return f"""
WITH lm AS (SELECT * FROM ({LM_BIGRAM_SQL})),
sc AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         COALESCE(d.lang, 'und') AS lang, lm.bits_x1000
  FROM documents d JOIN lm ON d.doc_id = lm.doc_id),
cnt AS (SELECT lang, bits_x1000, COUNT(*) AS c FROM sc GROUP BY 1, 2),
cum AS (
  SELECT lang, bits_x1000,
         SUM(c) OVER (PARTITION BY lang ORDER BY bits_x1000) AS cum
  FROM cnt),
nt AS (SELECT lang, SUM(c) AS ntot FROM cnt GROUP BY 1),
th AS (
  SELECT lang,
         MIN(CASE WHEN cum >= (ntot + 2) // 3 THEN bits_x1000 END) AS t1,
         MIN(CASE WHEN cum >= (2 * ntot + 2) // 3 THEN bits_x1000 END) AS t2
  FROM cum JOIN nt USING (lang) GROUP BY lang),
b AS (
  SELECT doc_id, lang, bits_x1000,
         CASE WHEN bits_x1000 <= t1 THEN 'head'
              WHEN bits_x1000 <= t2 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM sc JOIN th USING (lang))
SELECT doc_id, lang, bits_x1000, bucket,
       CAST(CASE WHEN (doc_id * 2654435761 + {_PPL_SALT}) % 4294967296 % 1000000
                      < (CASE bucket WHEN 'head' THEN 1000000
                                     WHEN 'middle' THEN 500000
                                     ELSE 100000 END)
                 THEN 1 ELSE 0 END AS INT) AS kept
FROM b
"""


PERPLEXITY_BUCKET_MIX_SQL = _perplexity_bucket_mix_sql()


def shuffle_shards(documents: DataFrame) -> DataFrame:
    """Deterministic global training-shuffle assignment: every doc gets
    a shard and a within-shard order key, both pure functions of
    doc_id — the reproducible corpus shuffle every training-data
    export needs (examples decorrelated from ingest order, identical
    across reruns/cluster sizes, growth-stable: new docs never move
    existing ones). This is the epoch-0 assignment into ``_N_SHARDS``
    shards; ``sinks.write_training_shards`` swaps in per-epoch hash
    MULTIPLIERS (``_epoch_mults``) so each training epoch gets an
    independent (still fully deterministic) shard assignment and order
    — same epoch, same order, forever.

    shard = multiply-shift on the salted multiplicative hash's HIGH
    bits (uniform for any n_shards and any structured id space — see
    ``shard_expr``); order_key = a full-width hash under a DIFFERENT
    multiplier (the reader sorts a shard by (order_key, doc_id) — no
    materialized global position, so there is NO corpus-cardinality
    window anywhere). Pure projection:
    zero shuffle; the actual data movement happens once, at write time
    (``sinks.write_training_shards``, which annotates rows in place
    with these same expressions — no join back). Output
    (doc_id, shard, order_key)."""
    return documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        shard_expr(_N_SHARDS).alias("shard"),
        order_key_expr().alias("order_key"),
    )


def _epoch_mults(epoch: int) -> tuple[int, int]:
    """Per-epoch ODD multipliers for the shard and order hashes
    (epoch 0 == the base multipliers, so existing outputs/oracles are
    unchanged). An additive per-epoch SALT would be affine — it
    shifts every hash by one constant, preserving the shard high
    bits and the induced within-shard order almost everywhere (only
    the mod-2^32 wrap moves) — so epochs would train on the same
    order. Changing the MULTIPLIER re-permutes the whole id space;
    odd multipliers stay bijective mod 2^32."""
    e = int(epoch)
    m1 = (_KNUTH + 2 * e * 0x9E3779B9) % 4294967296
    m2 = (_PRIME2 + 2 * e * 0x85EBCA77) % 4294967296
    return m1, m2


# second odd multiplier (xxhash32 prime 2) — a DIFFERENT multiplier,
# not a re-salt: (id*K+s1) and (id*K+s2) differ by a constant, so the
# same multiplier would make in-shard order a function of the shard
# hash itself
_PRIME2 = 2246822519


def shard_expr(n_shards: int, mult: int = _KNUTH):
    """The shard id as a bare Column (cf. ``split_expr``) — lets the
    shard writer annotate rows in place instead of joining
    ``shuffle_shards`` output back on doc_id.

    Multiply-shift (Knuth): shard = (h * n_shards) >> 32 takes the
    HIGH bits of the 32-bit hash. ``h % n_shards`` would take the low
    bits, and multiplication mod 2^32 never mixes high bits downward —
    for any n dividing 2^32 that collapses to an affine map of
    ``doc_id mod n`` (an all-even id space would fill only half the
    shards). High bits are where a multiplicative hash is actually
    uniform; works for ANY n_shards, no power-of-two requirement.
    ``mult`` must be odd (bijective mod 2^32); per-epoch variants
    come from ``_epoch_mults``."""
    h = (F.col("doc_id") * F.lit(int(mult)) + F.lit(_SHARD_SALT)) \
        % F.lit(4294967296)
    return F.shiftright(h * F.lit(int(n_shards)), 32).cast("bigint")


def order_key_expr(mult: int = _PRIME2):
    """The within-shard order key as a bare Column; a DIFFERENT
    multiplier (not just a different salt — an affine re-salt of the
    same hash is the shard hash plus a constant) so shard and
    in-shard order are genuinely decorrelated. Injective over a
    2^32 id window; the writer adds doc_id as the final sort
    tiebreaker so collisions beyond it stay deterministic."""
    return ((F.col("doc_id") * F.lit(int(mult)) + F.lit(_SHARD_SALT))
            % F.lit(4294967296)).cast("bigint")


def _shuffle_shards_sql() -> str:
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST((((doc_id * {_KNUTH} + {_SHARD_SALT}) % 4294967296) * {_N_SHARDS})
            >> 32 AS BIGINT) AS shard,
       CAST((doc_id * {_PRIME2} + {_SHARD_SALT}) % 4294967296
            AS BIGINT) AS order_key
FROM documents
"""


SHUFFLE_SHARDS_SQL = _shuffle_shards_sql()
