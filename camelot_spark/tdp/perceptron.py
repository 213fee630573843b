"""Deterministic integer text-classifier training over hashed token
features — the "train a quality classifier on the corpus, at corpus
scale" shape of a production data pipeline (fastText-style hashed
bag-of-tokens with weak labels from a heuristic rule, the CCNet-style
distillation), kept EXACTLY engine-portable like ``bpe_train`` /
``link_rank``: every quantity is an integer, so the result
hash-matches a generated SQL twin.

Model: **Rocchio / nearest-centroid** — w = centroid(+) − centroid(−)
over per-mille-normalized bucket counts, prediction
2·(w·x) > w·(c₊ + c₋). One-shot (two partial-agg passes), provably
stable. A fixed-epoch integer BATCH perceptron was built first and
rejected by measurement: full-batch updates oscillate with period 2 on
this data (train accuracy pinned at the majority rate through 16
epochs, with or without update averaging and feature normalization) —
the classic non-separable batch-perceptron failure, and per-example
SGD is order-dependent so it cannot be made engine-portable. Rocchio
is the deterministic trainer that actually learns (0.86 train accuracy
at sf0.01 vs 0.50 for the perceptron).

Weak label: stopword ratio > a fixed per-mille threshold — a real
fluency heuristic whose signal lives in exactly the hashed buckets the
stopwords land in, so the linear model can genuinely express it.

Integer-portability traps engineered around (the DIV-vs-// rule):
all floor divisions run on provably NON-NEGATIVE values (per-mille
normalization, class-mean division); the bias comparison is kept
multiplicative — pred = 2·(w·x) − w·(c₊+c₋) > 0 — because halving a
possibly-negative dot product would hit Spark's truncating DIV vs
DuckDB's flooring // and diverge.

Scale shape: features are one explode + one (doc_id, bucket)
partial-agg; labels one partial-agg; the two centroids are a
(label, bucket) partial-agg over ≤ 2·_DIM groups; the model is 2·_DIM
longs — a broadcast; scoring is one feature⋈model join + per-doc agg.
Nothing grows with the corpus except the embarrassingly parallel
passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DIM = 64
_POLY_M = 1_000_000_007
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on",
              "with")
_SW_THRESHOLD_PM = 57  # fixed per-mille stopword-ratio label threshold


def _token_bucket(col):
    """Portable token → bucket hash: full-char polynomial fold mod the
    big prime, prime-mixed once more before the bucket modulus (the
    decorrelation lesson from decontaminate_bloom; one shared
    definition in tdp.hashing)."""
    from .hashing import char_fold, prime_mix

    return prime_mix(char_fold(col), _DIM)


def _features_and_labels(documents: DataFrame):
    """((doc_id, bucket, x) per-mille-normalized features,
    (doc_id, y∈{1,-1}) weak labels). Docs with no tokens drop out."""
    toks = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.filter(F.split(F.lower(F.col("text")), " "),
                           lambda t: F.length(t) > 0)).alias("tok"),
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum(F.when(F.col("tok").isin(*_STOPWORDS), 1).otherwise(0))
        .alias("n_sw"),
    )
    # integer-exact threshold: n_sw*1000 DIV n_toks > T  (both operands
    # non-negative, so DIV and // agree)
    labels = per_doc.selectExpr(
        "doc_id",
        f"CAST(CASE WHEN (n_sw * 1000) DIV n_toks > {_SW_THRESHOLD_PM} "
        "THEN 1 ELSE -1 END AS BIGINT) AS y",
    )
    counts = (
        toks.select("doc_id", _token_bucket(F.col("tok")).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    feats = (
        counts.join(per_doc.select("doc_id", "n_toks"), "doc_id")
        .selectExpr("doc_id", "bucket",
                    "CAST((cnt * 1000) DIV n_toks AS BIGINT) AS x")
    )
    return feats, labels


def _checkpointed(documents: DataFrame):
    """Features/labels materialized once (localCheckpoint, the
    link_rank discipline): the tokenize+hash prefix is the expensive
    part and every model branch (two centroids, class counts, scoring)
    would otherwise re-derive it — measured 25-41 exchanges without."""
    feats, labels = _features_and_labels(documents)
    return (feats.localCheckpoint(eager=True),
            labels.localCheckpoint(eager=True))


def train_quality_classifier(documents: DataFrame) -> DataFrame:
    """Integer Rocchio model: rows (bucket, weight) for buckets
    0.._DIM-1 with weight = c₊[b] − c₋[b], plus one row
    (bucket=-1, weight = Σ_b w_b·(c₊[b]+c₋[b])) — the doubled-bias
    term prediction compares against."""
    feats, labels = _checkpointed(documents)
    return _train_from(documents.sparkSession, feats, labels)


def _train_from(spark, feats: DataFrame, labels: DataFrame) -> DataFrame:
    sums = (
        feats.join(labels, "doc_id")
        .groupBy("y", "bucket")
        .agg(F.sum("x").alias("sx"))
    )
    n_class = labels.groupBy("y").agg(F.count(F.lit(1)).alias("n"))
    cent = sums.join(n_class, "y").selectExpr(
        "y", "bucket", "CAST(sx DIV n AS BIGINT) AS c")
    # dense per-bucket (c_pos, c_neg) — missing buckets are 0
    buckets = spark.range(_DIM).select(F.col("id").alias("bucket"))
    cp = cent.where("y = 1").select("bucket", F.col("c").alias("cp"))
    cn = cent.where("y = -1").select("bucket", F.col("c").alias("cn"))
    dense = (
        buckets.join(cp, "bucket", "left").join(cn, "bucket", "left")
        .selectExpr("bucket",
                    "COALESCE(cp, CAST(0 AS BIGINT)) AS cp",
                    "COALESCE(cn, CAST(0 AS BIGINT)) AS cn")
    )
    w = dense.selectExpr("bucket", "CAST(cp - cn AS BIGINT) AS weight")
    bias = dense.agg(
        F.sum((F.col("cp") - F.col("cn")) * (F.col("cp") + F.col("cn")))
        .cast("long").alias("weight")
    ).select(F.lit(-1).cast("bigint").alias("bucket"), "weight")
    return w.unionByName(bias)


def quality_classifier_predictions(documents: DataFrame) -> DataFrame:
    """Apply the trained model to the training slice: (doc_id, score2,
    pred, y, correct) with score2 = 2·(w·x) − bias_term (kept
    multiplicative — no division of signed values)."""
    feats, labels = _checkpointed(documents)
    return _predictions_from(documents.sparkSession, feats, labels)


def _predictions_from(spark, feats: DataFrame, labels: DataFrame) -> DataFrame:
    """``quality_classifier_predictions`` over already-materialized
    features and labels (``_checkpointed``)."""
    model = _train_from(spark, feats, labels).localCheckpoint(eager=True)
    w = model.where("bucket >= 0").withColumnRenamed("weight", "wt")
    bias = model.where("bucket = -1").select(
        F.col("weight").alias("bias_term"))
    dot = (
        feats.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("x") * F.col("wt")).cast("long").alias("wx"))
    )
    return (
        labels.join(dot, "doc_id").crossJoin(F.broadcast(bias))
        .selectExpr(
            "doc_id",
            "CAST(2 * wx - bias_term AS BIGINT) AS score2",
            "CAST(CASE WHEN 2 * wx - bias_term > 0 THEN 1 ELSE -1 END"
            " AS BIGINT) AS pred",
            "y",
            "CAST(CASE WHEN (2 * wx - bias_term > 0) = (y > 0)"
            " THEN 1 ELSE 0 END AS BIGINT) AS correct",
        )
    )


_SW_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

_SQL_HEAD = f"""
WITH slice AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text
  FROM documents WHERE doc_id % 4 = 0),
toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    t -> length(t) > 0)) AS tok
  FROM slice),
per_doc AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n_toks,
         SUM(CASE WHEN tok IN ({_SW_LIST}) THEN 1 ELSE 0 END) AS n_sw
  FROM toks GROUP BY doc_id),
labels AS MATERIALIZED (
  SELECT doc_id,
         CAST(CASE WHEN (n_sw * 1000) // n_toks > {_SW_THRESHOLD_PM}
              THEN 1 ELSE -1 END AS BIGINT) AS y
  FROM per_doc),
counts AS (
  SELECT doc_id,
         (((list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(tok, ''),
                             c -> CAST(ord(c) AS BIGINT))),
            (a, b) -> (a * 31 + b) % {_POLY_M})
           * 2654435761 + 40503) % {_POLY_M}) % {_DIM}) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY doc_id, bucket),
feats AS MATERIALIZED (
  SELECT c.doc_id, c.bucket,
         CAST((c.cnt * 1000) // p.n_toks AS BIGINT) AS x
  FROM counts c JOIN per_doc p USING (doc_id)),
n_class AS (SELECT y, COUNT(*) AS n FROM labels GROUP BY y),
cent AS (
  SELECT l.y, f.bucket, CAST(SUM(f.x) // ANY_VALUE(nc.n) AS BIGINT) AS c
  FROM feats f JOIN labels l USING (doc_id) JOIN n_class nc ON nc.y = l.y
  GROUP BY l.y, f.bucket),
buckets AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, {_DIM})),
dense AS MATERIALIZED (
  SELECT b.bucket,
         COALESCE(cp.c, CAST(0 AS BIGINT)) AS cp,
         COALESCE(cn.c, CAST(0 AS BIGINT)) AS cn
  FROM buckets b
  LEFT JOIN (SELECT bucket, c FROM cent WHERE y = 1) cp USING (bucket)
  LEFT JOIN (SELECT bucket, c FROM cent WHERE y = -1) cn USING (bucket))"""

TRAIN_QUALITY_CLASSIFIER_SQL = _SQL_HEAD + """
SELECT bucket, CAST(cp - cn AS BIGINT) AS weight FROM dense
UNION ALL
SELECT CAST(-1 AS BIGINT) AS bucket,
       CAST(SUM((cp - cn) * (cp + cn)) AS BIGINT) AS weight
FROM dense
"""

QUALITY_CLASSIFIER_PREDICTIONS_SQL = _SQL_HEAD + """,
w AS (SELECT bucket, CAST(cp - cn AS BIGINT) AS wt FROM dense),
bias AS (SELECT CAST(SUM((cp - cn) * (cp + cn)) AS BIGINT) AS bias_term
         FROM dense),
dot AS (
  SELECT f.doc_id, CAST(SUM(f.x * w.wt) AS BIGINT) AS wx
  FROM feats f JOIN w USING (bucket) GROUP BY f.doc_id)
SELECT l.doc_id,
       CAST(2 * d.wx - b.bias_term AS BIGINT) AS score2,
       CAST(CASE WHEN 2 * d.wx - b.bias_term > 0 THEN 1 ELSE -1 END
            AS BIGINT) AS pred,
       l.y,
       CAST(CASE WHEN (2 * d.wx - b.bias_term > 0) = (l.y > 0)
            THEN 1 ELSE 0 END AS BIGINT) AS correct
FROM labels l JOIN dot d USING (doc_id), bias b
"""
