"""BPE tokenizer training (byte-pair encoding merge learning) — the
iterative tokenizer-training loop of an LLM data pipeline, expressed
Spark-first: each round is one distributed adjacent-pair count, one
1-row deterministic argmax, and one corpus-wide literal merge
application; the learned merge table is the output.

Contract (the classic word-internal BPE of Sennrich et al. 2016,
simplified to a deterministic, engine-portable form):
- words are lower-case ``[a-z]+`` runs; each word starts as its
  characters separated by spaces; words are joined with a ``|`` guard
  token so merges never cross word boundaries;
- a round counts adjacent token pairs (guards excluded), picks the
  winner by (count DESC, left ASC, right ASC) — fully deterministic —
  and applies it via LITERAL left-to-right non-overlapping replacement
  of `` l r `` with `` lr `` (Python/Java/DuckDB ``replace`` all share
  this semantic, which is also how greedy BPE application behaves);
- output: one row per learned merge (merge_rank, left, right,
  pair_count).

Plan shape per round: the pair count is an explode + partial-agg
groupBy on (left, right) string pairs; the argmax ships ONE row to the
driver (control flow, not data); the merge application is a codegen
``replace`` over the corpus state, checkpointed per round so the plan
stays linear. Training corpora in practice are samples — the operator
takes a ``doc_id % 8`` sample in the driver query, and a real
deployment trains on a stratified sample (``tdp.sampling``), never the
full 100 TB.

The DuckDB twin reproduces the ENTIRE loop in SQL: generated CTE
rounds (count → 1-row argmax → cross-join replace), same
deterministic tie-break — so the learned merge table hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_N_MERGES = 8  # merges learned per tokenizer; the twin replays as many


def _initial_state(documents: DataFrame) -> DataFrame:
    """(doc_id, s): chars spaced out, words joined by the | guard,
    whole string padded with spaces so every token has ' ' both sides."""
    words = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"),
                     lambda w: F.length(w) > 0)
    spaced = F.transform(
        words,
        lambda w: F.array_join(F.split(w, ""), " "))
    return documents.select(
        "doc_id",
        F.concat(F.lit(" "), F.array_join(spaced, " | "), F.lit(" ")).alias("s"),
    )


def _pair_counts(state: DataFrame) -> DataFrame:
    # r7: pairs via explode(arrays_zip of two shifted slices) — fully
    # codegen; the old filter()+zip_with() lambdas were interpreted per
    # token PER ROUND. The state string is single-space separated with
    # one leading/trailing pad, so the only empty tokens are the two
    # ends; pairing the raw token array and dropping ''-touching pairs
    # in the guard filter yields the identical pair multiset (an end
    # token has exactly one neighbor, so removing it creates no new
    # adjacency).
    toks = F.split(F.col("s"), " ")
    cnt = F.greatest(F.size(toks) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(toks, 1, cnt), F.slice(toks, 2, cnt))
    p = F.col("p")
    return (
        state.select(F.explode(zipped).alias("p"))
        .select(p["0"].alias("l"), p["1"].alias("r"))
        .where((F.col("l") != "|") & (F.col("r") != "|")
               & (F.col("l") != "") & (F.col("r") != ""))
        .groupBy("l", "r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def bpe_train(documents: DataFrame) -> DataFrame:
    """Learn ``_N_MERGES`` BPE merges; returns (merge_rank, left, right,
    pair_count) ordered by rank."""
    spark = documents.sparkSession
    state = _initial_state(documents).localCheckpoint(eager=False)
    learned = []
    for rank in range(1, _N_MERGES + 1):
        best = (
            _pair_counts(state)
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], best[0]["c"]
        learned.append((rank, l, r, c))
        state = state.select(
            "doc_id",
            F.replace(F.col("s"), F.lit(f" {l} {r} "), F.lit(f" {l}{r} ")).alias("s"),
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        learned, "merge_rank int, left string, right string, pair_count long")


def bpe_token_counts(documents: DataFrame, merges: DataFrame) -> DataFrame:
    """ENCODE the corpus with an already-learned merge table
    (``bpe_train``'s output schema): per document, the number of BPE
    tokens after all merges apply (guards excluded) — the
    sequence-length statistic that drives packing/quota decisions once
    a tokenizer exists. The ≤``_N_MERGES`` literal replaces apply in
    ONE chained projection — replace is associative-in-sequence, so
    chaining in rank order equals the per-round application exactly.
    This is how a production encode pass runs (the tokenizer is
    trained once, applied everywhere), and how the driver query shares
    bpe_train's persisted prefix.

    A merge side that is empty or holds ``' '`` or ``'|'`` would break
    the single-space, guard-separated state the replaces rely on; such
    a row raises ``ValueError``."""
    rows = sorted(merges.collect(), key=lambda r: r["merge_rank"])
    s = F.col("s")
    for m in rows[:_N_MERGES]:
        l, r = m["left"], m["right"]
        if not l or not r or any(c in l + r for c in " |"):
            raise ValueError(f"merge row breaks the single-space state: {m}")
        s = F.replace(s, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
    toks = F.filter(F.split(s, " "),
                    lambda t: (F.length(t) > 0) & (t != "|"))
    return _initial_state(documents).select(
        "doc_id", F.size(toks).cast("bigint").alias("n_tokens"))


def bpe_sql() -> str:
    """Generate the DuckDB twin: the same loop as chained CTE rounds,
    over the registry query's doc_id % 8 = 0 sample."""
    head = f"""
WITH c0 AS MATERIALIZED (
  SELECT doc_id,
         ' ' || array_to_string(
           list_transform(
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         w -> length(w) > 0),
             w -> array_to_string(string_split(w, ''), ' ')),
           ' | ') || ' ' AS s
  FROM documents WHERE doc_id % 8 = 0)"""
    rounds = []
    for k in range(1, _N_MERGES + 1):
        prev = f"c{k - 1}"
        rounds.append(f""",
p{k} AS MATERIALIZED (
  SELECT a[CAST(i.i AS INTEGER)] AS l, a[CAST(i.i + 1 AS INTEGER)] AS r,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT list_filter(string_split(s, ' '), x -> length(x) > 0) AS a
        FROM {prev}),
       LATERAL unnest(range(1, len(a))) AS i(i)
  WHERE a[CAST(i.i AS INTEGER)] != '|' AND a[CAST(i.i + 1 AS INTEGER)] != '|'
  GROUP BY 1, 2),
b{k} AS MATERIALIZED (
  SELECT l, r, c FROM p{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
c{k} AS MATERIALIZED (
  -- LEFT JOIN ON TRUE, not CROSS JOIN: when the corpus exhausts
  -- learnable merges early, b{k} is empty and a CROSS JOIN would
  -- empty every later round (diverging from the Spark loop's break);
  -- the COALESCE passes state through unchanged instead
  SELECT doc_id,
         COALESCE(replace(s, ' ' || b.l || ' ' || b.r || ' ',
                          ' ' || b.l || b.r || ' '), s) AS s
  FROM {prev} LEFT JOIN b{k} b ON TRUE)""")
    selects = " UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, l AS left, r AS right, "
        f"c AS pair_count FROM b{k}"
        for k in range(1, _N_MERGES + 1))
    return head + "".join(rounds) + "\n" + selects


BPE_TRAIN_SQL = bpe_sql()

# encode twin: the training chain's final state c8 IS the encoded
# corpus; count its non-guard tokens per document
_BPE_HEAD_AND_ROUNDS = BPE_TRAIN_SQL[:BPE_TRAIN_SQL.rindex("\nSELECT")]
BPE_TOKEN_COUNTS_SQL = _BPE_HEAD_AND_ROUNDS + """
SELECT doc_id,
       CAST(len(list_filter(string_split(s, ' '),
                            x -> length(x) > 0 AND x != '|')) AS BIGINT)
         AS n_tokens
FROM c8
"""
