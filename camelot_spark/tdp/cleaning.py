"""Composed corpus-cleaning pipeline: the canonical training-data flow
built from the individual tdp operators —

    quality gate → exact-dedup keep-first → language tag

One relational plan: the quality filter prunes before the dedup
shuffle, the dedup groupBy ships (hash, id, score) only — document
bodies are re-joined for the survivors alone. All built-in expressions
(whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import EXACT_KEY, exact_key
from .text import _lang_vote, _profile_hits, _quality_x100, _tokens


def clean_corpus(documents: DataFrame) -> DataFrame:
    """(keep_id, group_size, quality_x100, pred_lang) for surviving docs.

    Survivors = per exact-content group, the lowest doc_id among docs
    whose quality score ≥ 50 (x100)."""
    # tokens projected once (each reference of a split() expression
    # re-tokenizes the row — see tdp/text.py intermediate-projection rule)
    base = documents.select(
        F.col("doc_id").cast("bigint").alias("id"),
        "text",
        _tokens(F.col("text")).alias("toks"),
    )
    # the dedup groupBy ships the key and id, never bodies (see dedup.exact_key)
    scored = base.select(
        "id", *exact_key(), _quality_x100(F.col("toks")).alias("quality_x100"), "text",
    ).where(F.col("quality_x100") >= 50)

    survivors = (
        scored.groupBy(*EXACT_KEY)
        .agg(F.min("id").alias("keep_id"),
             F.count(F.lit(1)).cast("bigint").alias("group_size"))
    )
    kept = survivors.join(
        scored.withColumnRenamed("id", "keep_id"), [*EXACT_KEY, "keep_id"]
    )
    pred = _lang_vote(lambda p: _profile_hits(_tokens(F.col("text")), p))
    return kept.select("keep_id", "group_size", "quality_x100", pred.alias("pred_lang"))


CLEAN_CORPUS_SQL = """
WITH scored AS (
  SELECT CAST(doc_id AS BIGINT) AS id, text,
         CAST(FLOOR((
           (CAST(len(list_filter(string_split(text,' '), w -> w IN ('a','the','of','and','in'))) AS DOUBLE)
              / CAST(len(string_split(text,' ')) AS DOUBLE)) * 40
         + (CAST(len(list_filter(string_split(text,' '), w -> length(w) > 5)) AS DOUBLE)
              / CAST(len(string_split(text,' ')) AS DOUBLE)) * 30
         + LEAST(CAST(len(string_split(text,' ')) AS DOUBLE), 100.0) / 100.0 * 30
         ) * 100) AS BIGINT) AS quality_x100
  FROM documents),
gated AS (SELECT * FROM scored WHERE quality_x100 >= 50),
surv AS (
  SELECT text, CAST(MIN(id) AS BIGINT) AS keep_id,
         CAST(COUNT(*) AS BIGINT) AS group_size
  FROM gated GROUP BY text),
kept AS (
  SELECT s.keep_id, s.group_size, g.quality_x100, g.text
  FROM surv s JOIN gated g ON g.id = s.keep_id),
langs AS (
  SELECT keep_id, group_size, quality_x100,
         len(list_filter(string_split(text, ' '), w -> w IN ('data','row','column','table'))) AS s_data,
         len(list_filter(string_split(text, ' '), w -> w IN ('fast','slow','small','big'))) AS s_perf,
         len(list_filter(string_split(text, ' '), w -> w IN ('query','scan','filter','join'))) AS s_query
  FROM kept)
SELECT keep_id, group_size, quality_x100,
       CASE
         WHEN s_query > s_data AND s_query > s_perf THEN 'query'
         WHEN s_perf > s_data AND s_perf >= s_query THEN 'perf'
         ELSE 'data'
       END AS pred_lang
FROM langs
"""
