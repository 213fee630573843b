"""Exact duplicate-substring detection across the corpus — the
fixed-length-window form of "Deduplicating Training Data Makes
Language Models Better" (Lee et al., 2022): any k-character substring
that occurs more than once corpus-wide marks every occurrence except
the global first as duplicated text. Unlike the MinHash/SimHash family
(whole-document near-dup), this finds verbatim REGIONS inside
otherwise-distinct documents (boilerplate, licenses, quoted reuse).

Pipeline (all DataFrame ops):
1. k-gram explode: every position's k-char window, scan-local
   (posexplode of a sequence — no shuffle);
2. canonical occurrence per gram: min (doc_id, pos) struct-min
   aggregate — ONE shuffle keyed on the gram (``portable=False``
   shuffles an 8-byte xxhash64 of the window, never the text; the
   portable variant shuffles the window itself so the DuckDB twin can
   reproduce the grouping bit-for-bit);
3. non-canonical occurrences keep their (doc_id, pos);
4. per-document interval merge: overlapping/adjacent duplicate windows
   collapse into maximal regions via the lag/running-max island
   pattern — one shuffle keyed on doc_id.

Scale notes: step 2's shuffle is the inherent cost — ~8 bytes x
(chars - k + 1) rows with the hashed key, the same O(corpus) order as
a tokenize pass. Hash collisions (two different windows sharing an
xxhash64) can only mark a FALSE duplicate region, never miss one;
at 64 bits the corpus-wide expected collision count stays ≪ 1 until
~10^9 distinct windows per partition-group — the standard trade the
suffix-array implementations make too (they dedup on hashes first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def duplicate_substring_spans(documents: DataFrame, k: int = 40,
                              portable: bool = False) -> DataFrame:
    """(doc_id, dup_start, dup_end, n_windows) — maximal character
    ranges [dup_start, dup_end) of each document whose every k-window
    also appears earlier in the corpus (global-first occurrence is NOT
    reported; it is the copy that stays)."""
    text = F.col("text")
    npos = F.greatest(F.length(text) - F.lit(k - 1), F.lit(0))
    grams = (
        documents
        .where(F.length(text) >= k)
        .select(
            "doc_id",
            F.posexplode(F.sequence(F.lit(0), npos - 1)).alias("pos", "_i"),
            text.alias("_t"),
        )
        .select(
            "doc_id", "pos",
            F.col("_t").substr(F.col("pos") + 1, F.lit(k)).alias("gram"),
        )
    )
    key = F.col("gram") if portable else F.xxhash64("gram")
    occ = grams.select("doc_id", "pos", key.alias("g"))
    # canonical = global first (min doc_id, then min pos); one struct-min
    # aggregate per gram key — dupes exist only where count > 1
    agg = occ.groupBy("g").agg(
        F.min(F.struct("doc_id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("n"),
    ).where(F.col("n") > 1)
    # no distinct needed: occ has one row per (doc_id, pos) and agg has
    # exactly one row per gram key, so the join cannot duplicate pairs
    dup_pos = (
        occ.join(agg, "g")
        .where(~((F.col("doc_id") == F.col("first.doc_id"))
                 & (F.col("pos") == F.col("first.pos"))))
        .select("doc_id", "pos")
    )
    # island merge: a window starting <= running-max end extends the
    # current region (identical pattern to interval_islands)
    w = Window.partitionBy("doc_id").orderBy("pos")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    marked = dup_pos.withColumn(
        "new_island",
        F.when(F.col("pos") > F.coalesce(
            F.max(F.col("pos") + k).over(wprev), F.lit(-1)), 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w))
    return (
        marked.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("bigint").alias("dup_start"),
            (F.max("pos") + k).cast("bigint").alias("dup_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .select("doc_id", "dup_start", "dup_end", "n_windows")
    )


def duplicate_substring_stats(documents: DataFrame, spans: DataFrame) -> DataFrame:
    """Per-document rollup of the duplicate regions: how much of each
    document is verbatim-duplicated text (the curation signal — drop or
    trim documents past a duplication threshold). Docs with no
    duplicated region are reported with zeros, so the output is a total
    function of the corpus.

    ``spans``: a precomputed ``duplicate_substring_spans`` result for
    the same documents — callers running several consumers of the
    region list (stats + strip + audit) compute/persist it once instead
    of re-running the k-gram shuffle per consumer."""
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_regions"),
        F.sum(F.col("dup_end") - F.col("dup_start")).cast("bigint").alias("dup_chars"),
    )
    return (
        documents.select("doc_id", F.length("text").cast("bigint").alias("chars"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "chars",
            F.coalesce("n_regions", F.lit(0)).cast("bigint").alias("n_regions"),
            F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias("dup_chars"),
        )
        # integer DIV so the ppm hash-matches the oracle's `//` exactly
        .selectExpr("doc_id", "chars", "n_regions", "dup_chars",
                    "CASE WHEN chars > 0 THEN (dup_chars * CAST(1000000 AS BIGINT))"
                    " DIV chars ELSE CAST(0 AS BIGINT) END AS dup_ppm")
    )


def strip_duplicate_substrings(documents: DataFrame, k: int = 40,
                               spans: DataFrame | None = None) -> DataFrame:
    """The removal step: cut every duplicate region out of each
    document, keeping the corpus-wide first occurrence — the operator
    that actually PRODUCES the deduplicated training corpus (spans/
    stats are the audit views). Returns (doc_id, clean_text,
    removed_chars, n_regions); clean documents pass through verbatim.

    The text surgery is a pure expression fold: regions are collected
    per doc (sorted, non-overlapping by construction), and the kept
    text is the concatenation of the n+1 gaps around n regions —
    substring arithmetic inside codegen, no Python. One extra shuffle
    (collect regions per doc) on top of the span pipeline.

    ``spans``: optional precomputed region list (see
    ``duplicate_substring_stats``)."""
    if spans is None:
        spans = duplicate_substring_spans(documents, k=k)
    regions = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("dup_start", "dup_end"))).alias("regs"))
    n = F.size("regs")
    starts = F.transform("regs", lambda r: r["dup_start"])
    ends = F.transform("regs", lambda r: r["dup_end"])

    def piece(i):
        prev_end = F.when(i == 0, F.lit(0)).otherwise(
            F.element_at(ends, i))  # element_at is 1-based: ends[i-1]
        next_start = F.when(i == n, F.length("text")).otherwise(
            F.element_at(starts, (i + 1).cast("int")))
        return F.col("text").substr(
            (prev_end + 1).cast("int"), (next_start - prev_end).cast("int"))

    clean = F.aggregate(
        F.sequence(F.lit(0), n), F.lit(""),
        lambda acc, i: F.concat(acc, piece(i)))
    removed = F.aggregate(
        F.zip_with(starts, ends, lambda s, e: e - s),
        F.lit(0).cast("long"), lambda a, x: a + x)
    return (
        documents.join(regions, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("regs").isNull(), F.col("text"))
            .otherwise(clean).alias("clean_text"),
            F.coalesce(removed, F.lit(0)).cast("bigint").alias("removed_chars"),
            F.coalesce(n, F.lit(0)).cast("bigint").alias("n_regions"),
        )
    )


# portable twin: the SAME pipeline over the raw 40-char windows (DuckDB
# groups the strings themselves; production shuffles xxhash64 keys).
# %4 sample keeps the oracle cheap at sf0.1 while exercising every
# stage on real data.
DUP_SUBSTR_SPANS_SQL = """
WITH docs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 4 = 0 AND length(text) >= 40),
grams AS (
  SELECT doc_id, CAST(p.pos AS BIGINT) AS pos,
         substr(text, CAST(p.pos + 1 AS INTEGER), 40) AS gram
  FROM docs, LATERAL unnest(range(0, length(text) - 39)) AS p(pos)),
agg AS (
  SELECT gram,
         MIN(struct_pack(doc_id := doc_id, pos := pos)) AS first,
         COUNT(*) AS n
  FROM grams GROUP BY gram HAVING COUNT(*) > 1),
dup_pos AS (
  SELECT g.doc_id, g.pos
  FROM grams g JOIN agg a USING (gram)
  WHERE NOT (g.doc_id = a.first.doc_id AND g.pos = a.first.pos)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + 40) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM dup_pos),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM marked)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS dup_start,
       CAST(MAX(pos) + 40 AS BIGINT) AS dup_end,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM islands GROUP BY doc_id, island
"""

DUP_SUBSTR_STATS_SQL = """
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
eligible AS (
  SELECT doc_id, text FROM docs WHERE length(text) >= 40),
grams AS (
  SELECT doc_id, CAST(p.pos AS BIGINT) AS pos,
         substr(text, CAST(p.pos + 1 AS INTEGER), 40) AS gram
  FROM eligible, LATERAL unnest(range(0, length(text) - 39)) AS p(pos)),
agg AS (
  SELECT gram, MIN(struct_pack(doc_id := doc_id, pos := pos)) AS first, COUNT(*) AS n
  FROM grams GROUP BY gram HAVING COUNT(*) > 1),
dup_pos AS (
  SELECT g.doc_id, g.pos
  FROM grams g JOIN agg a USING (gram)
  WHERE NOT (g.doc_id = a.first.doc_id AND g.pos = a.first.pos)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + 40) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM dup_pos),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM marked),
regions AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 40 AS e
  FROM islands GROUP BY doc_id, island),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_regions, SUM(e - s) AS dup_chars
  FROM regions GROUP BY doc_id)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS chars,
       CAST(COALESCE(p.n_regions, 0) AS BIGINT) AS n_regions,
       CAST(COALESCE(p.dup_chars, 0) AS BIGINT) AS dup_chars,
       CAST(CASE WHEN length(d.text) > 0
                 THEN COALESCE(p.dup_chars, 0) * 1000000 // length(d.text)
                 ELSE 0 END AS BIGINT) AS dup_ppm
FROM docs d LEFT JOIN per_doc p USING (doc_id)
"""

# strip twin: regions per doc (the spans pipeline), then the kept text
# as the ordered concatenation of the n+1 gaps around n regions.
STRIP_DUP_SUBSTR_SQL = """
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
eligible AS (
  SELECT doc_id, text FROM docs WHERE length(text) >= 40),
grams AS (
  SELECT doc_id, CAST(p.pos AS BIGINT) AS pos,
         substr(text, CAST(p.pos + 1 AS INTEGER), 40) AS gram
  FROM eligible, LATERAL unnest(range(0, length(text) - 39)) AS p(pos)),
agg AS (
  SELECT gram, MIN(struct_pack(doc_id := doc_id, pos := pos)) AS first, COUNT(*) AS n
  FROM grams GROUP BY gram HAVING COUNT(*) > 1),
dup_pos AS (
  SELECT g.doc_id, g.pos
  FROM grams g JOIN agg a USING (gram)
  WHERE NOT (g.doc_id = a.first.doc_id AND g.pos = a.first.pos)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + 40) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM dup_pos),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM marked),
regions AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 40 AS e
  FROM islands GROUP BY doc_id, island),
reg_lists AS (
  SELECT doc_id,
         list_sort(list(struct_pack(s := s, e := e))) AS regs
  FROM regions GROUP BY doc_id),
pieces AS (
  SELECT d.doc_id, i.i,
         substr(d.text,
                CAST(CASE WHEN i.i = 0 THEN 0
                          ELSE r.regs[CAST(i.i AS INTEGER)].e END + 1 AS INTEGER),
                CAST((CASE WHEN i.i = len(r.regs) THEN length(d.text)
                           ELSE r.regs[CAST(i.i + 1 AS INTEGER)].s END)
                     - (CASE WHEN i.i = 0 THEN 0
                             ELSE r.regs[CAST(i.i AS INTEGER)].e END) AS INTEGER))
           AS piece
  FROM docs d JOIN reg_lists r USING (doc_id),
       LATERAL unnest(range(0, len(r.regs) + 1)) AS i(i)),
cleaned AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY i) AS clean_text
  FROM pieces GROUP BY doc_id),
removed AS (
  SELECT doc_id,
         CAST(SUM(e - s) AS BIGINT) AS removed_chars,
         CAST(COUNT(*) AS BIGINT) AS n_regions
  FROM regions GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(c.clean_text, d.text) AS clean_text,
       COALESCE(r.removed_chars, 0) AS removed_chars,
       COALESCE(r.n_regions, 0) AS n_regions
FROM docs d
LEFT JOIN cleaned c USING (doc_id)
LEFT JOIN removed r USING (doc_id)
"""
