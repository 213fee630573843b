"""Corpus retrieval operators: inverted index + BM25-shaped ranking.

A curation stack needs lightweight retrieval — "find the documents
most relevant to these probe terms" powers targeted decontamination,
eval-set mining, and topic audits. Two operators:

- ``inverted_index``: term → document-frequency + a capped postings
  list. The explode is scan-local; the groupBy shuffles (term, doc_id)
  pairs — the same O(corpus tokens) order as any tokenize pass — with
  map-side partial aggregation. Postings are capped (top-P smallest
  doc_ids) so a stop-word's row cannot become a multi-GB array: the
  df count stays exact while the stored list is bounded, exactly how
  production indexes cap or tier hot postings.

- ``bm25_topk``: rank documents against query terms with a BM25-shaped
  score computed ENTIRELY in integer micro-units (μ = 1e-6): a linear
  idf surrogate ``idf_ppm = (N - df) * 1e6 DIV N`` and the standard
  saturating tf term ``tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
  folded into one integer division. Transcendental idf (ln) would
  differ between engines in the last ulp and flip floor() at
  boundaries — the linear surrogate keeps the oracle exact and the
  ranking monotone in the same inputs. Aggregation is one partial-agg
  groupBy on doc_id; the per-term idf table broadcasts.

Scale: the query-terms side is tiny (broadcast); the corpus side
shuffles only (doc_id, score-component) longs. Top-k is a
TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MU = 1_000_000
# posting lists keep 20 ids; BM25 k1 = 1.2 and b = 0.75 in thousandths;
# link_rank runs 8 fixed rounds at damping 0.85 (as its twin does)
_MAX_POSTINGS, _BM25_K1_X1000, _BM25_B_X1000 = 20, 1200, 750
_RANK_ITERS, _DAMPING_PCT = 8, 85


def _terms(col):
    """Lower-cased word tokens (letters only), the shared tokenizer."""
    return F.filter(
        F.split(F.lower(col), "[^a-z]+"), lambda t: F.length(t) > 0)


def inverted_index(documents: DataFrame) -> DataFrame:
    """(term, df, postings) — document frequency per term plus the
    ``_MAX_POSTINGS`` smallest doc_ids holding it (bounded row size).

    Scale shape (round-5 restructure; the old single window computed
    exact df with an unordered count-over-window on the raw term key,
    which put a stop-word's ENTIRE posting set into one reducer task):

    - exact ``df`` comes from a plain ``groupBy(term).count()`` —
      map-side partial aggregation reduces a stop-word's billions of
      rows to one (term, count) long per map partition before the
      shuffle; no reducer ever holds a full posting set.
    - postings come from a LONE ``row_number`` window: with the rank
      as the only window function and a direct ``rn <= k`` filter,
      Spark inserts WindowGroupLimit BELOW the exchange, so each map
      partition ships at most ``_MAX_POSTINGS`` rows per term and the
      final per-term task sorts <= k * n_map_partitions rows — bounded
      regardless of df.
    - the two branches join on term; both sides arrive hash-partitioned
      by term from their own aggregation, so the join adds no exchange.
    """
    from pyspark.sql import Window as W

    toks = (
        documents.select("doc_id", F.explode(F.array_distinct(
            _terms(F.col("text")))).alias("term"))
    )
    df_tbl = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    w = W.partitionBy("term").orderBy("doc_id")
    plist = (
        toks.select("term", "doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= _MAX_POSTINGS)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("plist"))
    )
    return (
        df_tbl.join(plist, "term")
        # string-encoded postings: oracle compares scalars, and the
        # string is what a downstream join would broadcast anyway
        .select("term", "df",
                F.array_join(F.transform("plist", lambda d: d.cast("string")),
                             ",").alias("postings"))
    )


def bm25_topk(documents: DataFrame, query_terms: list[str]) -> DataFrame:
    """Top-10 (doc_id, score_micro) for the query terms under the
    integer BM25 variant described in the module docstring."""
    import re

    spark = documents.sparkSession
    # normalize query terms through the SAME tokenizer as documents —
    # a caller passing "Data" or "JOIN" must match, not silently miss
    norm = {t for q in query_terms
            for t in re.split("[^a-z]+", q.lower()) if t}
    qt = spark.createDataFrame([(t,) for t in sorted(norm)], "term string")
    docs = documents.select(
        "doc_id", _terms(F.col("text")).alias("toks"))
    # document lengths and the corpus averages (one tiny agg, broadcast
    # via scalar collection is avoided: cross-join the 1-row aggregate)
    with_len = docs.select(
        "doc_id", "toks", F.size("toks").cast("bigint").alias("dl"))
    totals = with_len.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"))
    # term frequencies for query terms only: filter before the explode
    tf = (
        with_len.select(
            "doc_id", "dl", F.explode("toks").alias("term"))
        .join(F.broadcast(qt), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"),
             F.first("dl").alias("dl"))
    )
    df_tbl = (
        tf.select("term", "doc_id").distinct()
        .groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(totals))
        # idf_ppm = (N - df) * MU DIV N  (linear surrogate, exact ints)
        # denom_x1000 = tf*1000 + k1 * (1000 - b + b * dl * n_docs DIV total_len) DIV 1000
        .selectExpr(
            "doc_id", "term",
            f"((n_docs - df) * CAST({_MU} AS BIGINT)) DIV n_docs AS idf_ppm",
            f"tf * (1000 + {_BM25_K1_X1000}) AS num_x1000",
            f"tf * 1000 + ({_BM25_K1_X1000} * (1000 - {_BM25_B_X1000}"
            f" + ({_BM25_B_X1000} * dl * n_docs) DIV total_len)) DIV 1000"
            " AS den_x1000",
        )
        .selectExpr("doc_id",
                    "(idf_ppm * num_x1000) DIV den_x1000 AS term_score_micro")
        .groupBy("doc_id")
        .agg(F.sum("term_score_micro").cast("bigint").alias("score_micro"))
    )
    return (
        scored.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "score_micro")
    )


INVERTED_INDEX_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents,
       LATERAL unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> length(x) > 0)) AS t(term))
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(CAST(doc_id AS BIGINT)))[1:20], ',')
         AS postings
FROM toks GROUP BY term
"""

_BM25_QUERY_TERMS = ("data", "join", "vector", "scan")

BM25_TOPK_SQL = """
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> length(x) > 0) AS toks
  FROM documents),
with_len AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM docs),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len
  FROM with_len),
tf AS (
  SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf, ANY_VALUE(dl) AS dl
  FROM with_len, LATERAL unnest(toks) AS t(term)
  WHERE t.term IN ('data', 'join', 'scan', 'vector')
  GROUP BY doc_id, t.term),
df_tbl AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ((n_docs - df) * 1000000 // n_docs)
           * (tf * (1000 + 1200))
           // (tf * 1000 + (1200 * (1000 - 750
                + (750 * dl * n_docs) // total_len)) // 1000)
           AS term_score_micro
  FROM tf JOIN df_tbl USING (term) CROSS JOIN totals)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(SUM(term_score_micro) AS BIGINT) AS score_micro
FROM scored GROUP BY doc_id
ORDER BY score_micro DESC, doc_id ASC
LIMIT 10
"""


def doc_link_edges(documents: DataFrame) -> DataFrame:
    """Deterministic doc→doc link graph over the corpus keys: every doc
    links to its binary-tree parent (doc_id DIV 2) and its predecessor
    (doc_id − 1), semi-joined so only existing docs appear as targets —
    the synthetic stand-in for an extracted crawl link graph (real
    deployments feed ``extract_links`` hrefs resolved to doc ids)."""
    ids = documents.select(F.col("doc_id").cast("bigint").alias("doc_id"))
    cand = (
        ids.selectExpr("doc_id AS src", "doc_id DIV 2 AS dst")
        .union(ids.selectExpr("doc_id AS src", "doc_id - 1 AS dst"))
        .where("dst >= 0 AND dst != src")
        .distinct()
    )
    return cand.join(ids.selectExpr("doc_id AS dst"), "dst", "left_semi") \
        .select("src", "dst")


def link_rank(edges: DataFrame) -> DataFrame:
    """Deterministic integer PageRank over a (src, dst) edge list —
    the classic web-graph quality prior for crawl-corpus curation
    (rank-weighted sampling, frontier prioritization), kept EXACTLY
    engine-portable: all arithmetic is integer micro-units with floor
    division, so the fixed-``_RANK_ITERS`` result hash-matches a SQL twin
    (transcendental/float PageRank cannot — float sums are shuffle-
    order-dependent; integer sums are not).

    Per iteration: rank_v = base + Σ_{u→v} (rank_u·d DIV 100) DIV
    outdeg_u with base = 1e6·(100−d) DIV 100; ranks start at 1e6.
    Dangling mass is dropped (documented deviation from the stochastic
    normalization — monotone ordering is what curation consumes).

    Plan shape (r7): outdeg is joined into the edge list ONCE up front
    (the old loop re-joined it every round — 8 redundant joins), and
    edges/nodes are checkpointed pre-partitioned on their join keys
    (src / id) so each round's edge⋈rank and nodes⋈agg joins are
    co-partitioned: the only per-round exchange is the partial-agg
    groupBy on dst shuffling (long, long) — the one shuffle PageRank
    fundamentally needs per iteration. Plan-truncated per round like
    the CC loops."""
    e = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    ).distinct()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
    e_out = (e.join(outdeg, "src").repartition("src")
             .localCheckpoint(eager=True))
    # the join on outdeg keeps every edge of e
    nodes = (
        e_out.select(F.col("src").alias("id"))
        .union(e_out.select(F.col("dst").alias("id")))
        .distinct()
        .repartition("id")
        .localCheckpoint(eager=True)
    )
    base = _MU * (100 - _DAMPING_PCT) // 100
    ranks = nodes.select("id", F.lit(_MU).cast("long").alias("rank"))
    for _ in range(_RANK_ITERS):
        contrib = (
            e_out.join(ranks, e_out.src == ranks.id)
            .selectExpr("dst",
                        f"((rank * {_DAMPING_PCT}) DIV 100) DIV c AS contrib")
        )
        agg = contrib.groupBy("dst").agg(F.sum("contrib").alias("s"))
        ranks = (
            nodes.join(agg, nodes.id == F.col("dst"), "left")
            .select("id",
                    (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
                    .cast("long").alias("rank"))
            .localCheckpoint(eager=False)
        )
    return ranks.select(F.col("id").alias("doc_id"),
                        F.col("rank").alias("rank_ppm"))


def link_rank_sql() -> str:
    """Generated DuckDB twin: the same fixed integer-PageRank rounds as
    chained CTEs over the same derived edge set."""
    iters, damping_pct = _RANK_ITERS, _DAMPING_PCT
    base = _MU * (100 - damping_pct) // 100
    head = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
cand AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, doc_id // 2 AS dst FROM ids
    UNION ALL
    SELECT doc_id AS src, doc_id - 1 AS dst FROM ids)
  WHERE dst >= 0 AND dst != src),
edges AS MATERIALIZED (
  SELECT c.src, c.dst FROM cand c
  WHERE c.dst IN (SELECT doc_id FROM ids)),
outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM edges GROUP BY src),
nodes AS MATERIALIZED (
  SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
r0 AS (SELECT id, CAST({_MU} AS BIGINT) AS rank FROM nodes)"""
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f""",
r{k} AS MATERIALIZED (
  SELECT n.id,
         CAST({base} + COALESCE(SUM(((r.rank * {damping_pct}) // 100) // o.c), 0)
              AS BIGINT) AS rank
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.id
  LEFT JOIN r{k - 1} r ON r.id = e.src
  LEFT JOIN outdeg o ON o.src = e.src
  GROUP BY n.id)""")
    return (head + "".join(rounds)
            + f"\nSELECT id AS doc_id, rank AS rank_ppm FROM r{iters}\n")


LINK_RANK_SQL = link_rank_sql()
