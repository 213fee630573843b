"""Training-sequence preparation: document chunking and sequence
packing — the last mile between a cleaned corpus and a pretraining
dataloader.

- ``chunk_documents``: split each document into fixed-size token
  windows with overlap (sliding-window chunking for long-context /
  retrieval training). Pure per-row array algebra + one explode; no
  shuffle, the fan-out stays on the scan.
- ``pack_sequences``: concatenate documents in a deterministic order
  and cut at ``_SEQ_LEN`` token boundaries (GPT-style packing),
  assigning every document its (sequence id, offset). The running
  token count is a window cumsum PARTITIONED BY (``source``,
  ``doc_id // _SHARD_DOCS``) — a global (unpartitioned) cumsum would
  serialize 100 TB through one task, so packing parallelizes across
  shards and is documented as per-shard, exactly how production
  packers shard their input.
- ``pack_sequences_global``: the same concatenate-and-cut semantics
  but over ONE contiguous global token stream, via a hierarchical
  prefix sum (doc → shard → source) so no task ever holds more than a
  shard of documents or a source's shard-totals list. The output is
  bit-identical to an unpartitioned global cumsum — proven by the
  DuckDB twin, which IS the naive global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_SEQ_LEN = 512  # tokens per training sequence
# docs per packing shard: (source, doc_id // _SHARD_DOCS) bounds any
# window task at this many docs regardless of source skew
_SHARD_DOCS = 128


def chunk_documents(documents: DataFrame) -> DataFrame:
    """One row per (doc, window): sliding token windows of 64 tokens
    with 16 shared between neighbors (stride 48); the final partial
    window is kept.
    Output: (doc_id, chunk_idx, n_chunk_tokens, first_token, last_token).
    """
    chunk_tokens, stride = 64, 48
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: s < n,
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.slice(toks, s + 1, chunk_tokens).alias("toks"),
        ),
    )
    ex = documents.select("doc_id", F.explode(chunks).alias("c"))
    return ex.select(
        "doc_id",
        F.col("c.chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size("c.toks").cast("bigint").alias("n_chunk_tokens"),
        F.element_at("c.toks", 1).alias("first_token"),
        F.element_at("c.toks", -1).alias("last_token"),
    )


CHUNK_DOCUMENTS_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id,
         unnest([{'idx': CAST((s - 1) // 48 AS BIGINT),
                  'ck': toks[s:s+63]}
                 FOR s IN range(1, len(toks) + 1, 48)]) AS w
  FROM t)
SELECT doc_id,
       w.idx AS chunk_idx,
       CAST(len(w.ck) AS BIGINT) AS n_chunk_tokens,
       w.ck[1] AS first_token,
       w.ck[len(w.ck)] AS last_token
FROM c
"""


def _sharded_tokens(documents: DataFrame) -> DataFrame:
    """(source, doc_id, n_tokens, shard): the shard is
    ``doc_id // _SHARD_DOCS`` within a source."""
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    return documents.select(
        "source", F.col("doc_id").cast("bigint").alias("doc_id"), n_tok.alias("n_tokens")
    ).withColumn(
        "shard", F.floor(F.col("doc_id") / F.lit(_SHARD_DOCS)).cast("bigint")
    )


def pack_sequences(documents: DataFrame) -> DataFrame:
    """Concatenate-and-cut packing into ``_SEQ_LEN``-token sequences:
    documents ordered by doc_id within each shard are laid end-to-end;
    every document gets the
    training-sequence id and intra-sequence offset where it starts.
    Output: (source, doc_id, n_tokens, seq_id, seq_offset).

    The cumulative token count is a window cumsum partitioned by
    (source, ``doc_id // _SHARD_DOCS``), so packing parallelism equals
    shard count and ONE giant source does not serialize through one
    task (packing is per-shard by definition — real packers shard
    their input the same way)."""
    base = _sharded_tokens(documents)
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return base.select(
        "source", "doc_id", "n_tokens",
        F.floor(cum_prev / _SEQ_LEN).cast("bigint").alias("seq_id"),
        (cum_prev % _SEQ_LEN).cast("bigint").alias("seq_offset"),
    )


# Twin of pack_sequences: the cumsum partitions on
# (source, doc_id // 128), the bounded-shard shape the Spark side ships.
PACK_SEQUENCES_SQL = """
WITH t AS (
  SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source, doc_id // 128 ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM t)
SELECT source, doc_id, n_tokens,
       CAST(FLOOR(cum_prev / 512.0) AS BIGINT) AS seq_id,
       CAST(cum_prev % 512 AS BIGINT) AS seq_offset
FROM c
"""


def pack_sequences_global(documents: DataFrame) -> DataFrame:
    """Globally contiguous concatenate-and-cut packing: the whole
    corpus ordered by (source, doc_id) is one token stream, cut at
    ``_SEQ_LEN`` boundaries; every document gets the global sequence id
    and intra-sequence offset where it starts. Output:
    (source, doc_id, n_tokens, seq_id, seq_offset).

    A naive global cumsum is a one-task sort of the corpus. This is
    the hierarchical prefix-sum instead — the tree-scan every
    large-scale packer uses, expressed in three bounded windows:

    1. within-shard exclusive cumsum, group ≤ ``_SHARD_DOCS`` docs;
    2. per-source exclusive cumsum of shard TOTALS (24-byte rows,
       group = docs_per_source / _SHARD_DOCS — at 10^12 docs with a
       production ``_SHARD_DOCS`` ~1e6 that is ~1e6 rows per task; add
       a fourth level only past ~10^14 docs);
    3. exclusive cumsum of source totals (#sources rows, enum-small,
       broadcast back).

    global_prev = source_base + shard_base + within_shard_prev, then
    seq_id/seq_offset by integer division. Every document's answer is
    identical to the serial scan — the DuckDB twin runs the naive
    global window and must hash-match.

    NULL sources: the level joins are null-safe (``<=>``) and the
    level-3 window orders NULLS LAST, so a NULL-source doc packs into
    the final stream position exactly as the twin's
    ``ORDER BY source`` (DuckDB defaults NULLS LAST) places it — a
    plain equi-join here would silently drop those rows instead.
    """
    base = _sharded_tokens(documents)
    # level 1: exclusive cumsum within a shard (<= _SHARD_DOCS rows)
    w_doc = (
        Window.partitionBy("source", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    zero = F.lit(0).cast("bigint")
    within = F.coalesce(F.sum("n_tokens").over(w_doc), zero)

    shard_tot = base.groupBy("source", "shard").agg(
        F.sum("n_tokens").alias("shard_tokens"))
    # level 2: exclusive cumsum of shard totals within a source
    w_shard = (
        Window.partitionBy("source").orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    shard_base = shard_tot.select(
        "source", "shard",
        F.coalesce(F.sum("shard_tokens").over(w_shard), zero).alias("shard_base"),
    )
    # level 3: exclusive cumsum of source totals (enum-small input —
    # the groupBy("source") partial-agg pre-reduces every partition)
    src_tot = shard_tot.groupBy("source").agg(
        F.sum("shard_tokens").alias("source_tokens"))
    w_src = (
        Window.orderBy(F.asc_nulls_last("source"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    src_base = src_tot.select(
        F.col("source").alias("src_b"),
        F.coalesce(F.sum("source_tokens").over(w_src), zero).alias("source_base"),
    )
    sb = shard_base.select(
        F.col("source").alias("src_a"), F.col("shard").alias("shard_a"),
        "shard_base")
    gp = F.col("source_base") + F.col("shard_base") + within
    return (
        base.join(sb, F.col("source").eqNullSafe(F.col("src_a"))
                  & (F.col("shard") == F.col("shard_a")))
        .join(F.broadcast(src_base), F.col("source").eqNullSafe(F.col("src_b")))
        .select(
            "source", "doc_id", "n_tokens",
            F.floor(gp / _SEQ_LEN).cast("bigint").alias("seq_id"),
            (gp % _SEQ_LEN).cast("bigint").alias("seq_offset"),
        )
    )


# The twin IS the serial semantics: one naive global window ordered by
# (source, doc_id) — DuckDB can afford it at oracle scale, and a hash
# match proves the three-level decomposition exact.
PACK_GLOBAL_SQL = """
WITH t AS (
  SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY source, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gp
  FROM t)
SELECT source, doc_id, n_tokens,
       CAST(FLOOR(gp / 512.0) AS BIGINT) AS seq_id,
       CAST(gp % 512 AS BIGINT) AS seq_offset
FROM c
"""
