"""HTML main-content extraction: boilerplate strip + DOM-block
heuristics — the web half of the north_rule's "main-content extraction
pipeline (HTML boilerplate strip, PDF/layout parse, DOM heuristics)".
The PDF/layout half is the camelot_spark extraction engine; these
operators give the same Spark-first treatment to web documents.

Everything is pure ``pyspark.sql.functions`` regexp/array expressions —
whole-stage codegen on the scan, ZERO shuffle per document — with
RE2-safe patterns (no lookaround/backrefs) so the DuckDB oracles apply
byte-identical logic. The block classifier is a deterministic
jusText/readability-style heuristic: split the DOM into block-level
chunks, score each by word count and link density, keep content blocks.

Every operator reads an ``html`` column. The synthetic corpus is
plain text, so the registry queries first run ``decorate_html``, which
wraps each document in a deterministic HTML shell (nav/ads/footer
boilerplate keyed on doc_id), the way ``text.decorate_pii`` decorates
PII; production callers run on their real HTML.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# RE2-safe building blocks (non-greedy + dotall are supported by both
# RE2 and java.util.regex; no lookaround/backrefs anywhere)
_TAG = "<[^>]*>"
_SCRIPT_BLOCK = "(?s)<script[^>]*>.*?</script>"
_STYLE_BLOCK = "(?s)<style[^>]*>.*?</style>"
_BLOCK_CLOSE = "</(p|div|nav|footer|li|h1|h2|h3)>"
_ANCHOR_TEXT = "<a [^>]*>([^<]*)</a>"


def decorate_html(documents: DataFrame) -> DataFrame:
    """Wrap plain text in a deterministic HTML shell: title + script
    head, link-heavy nav, an ad div (doc_id-keyed variants), the text
    as the content paragraph, and a footer — the standard boilerplate a
    main-content extractor must strip."""
    ad = (
        F.when(F.col("doc_id") % 3 == 0,
               F.lit('<div class="ad"><a href="/buy">buy now</a> <a href="/deal">big deal</a></div>'))
        .when(F.col("doc_id") % 3 == 1,
              F.lit('<div class="promo"><a href="/sub">subscribe</a> to our newsletter</div>'))
        .otherwise(F.lit('<div class="share"><a href="/tw">tweet</a> <a href="/fb">share</a> <a href="/in">post</a></div>'))
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title><script>var x=1;</script></head><body>"),
        F.lit('<nav><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></nav>'),
        ad,
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<footer><a href="/terms">terms</a> copyright 2024</footer>'),
        F.lit("</body></html>"),
    )
    return documents.select("doc_id", html.alias("html"))


def _strip_tags(col, scripts_removed: bool = False):
    """script/style blocks (content included) → tags → entity decode →
    whitespace collapse. The same chain, in the same order, runs in the
    DuckDB oracle. ``scripts_removed=True`` skips the two block-removal
    passes for inputs that are already script/style-free (the
    per-block strip in main_content, which cleans the whole DOM before
    segmentation) — identical output, two fewer regex passes per
    block."""
    if scripts_removed:
        no_script = col
    else:
        no_script = F.regexp_replace(
            F.regexp_replace(col, _SCRIPT_BLOCK, " "), _STYLE_BLOCK, " "
        )
    no_tags = F.regexp_replace(no_script, _TAG, " ")
    decoded = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(no_tags, "&amp;", "&"), "&lt;", "<"
            ),
            "&gt;", ">",
        ),
        "&nbsp;", " ",
    )
    return F.trim(F.regexp_replace(decoded, " +", " "))


def strip_html(documents: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_tags): boilerplate-free text of the
    ``html`` column plus the number of tags removed."""
    html = F.col("html")
    return documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _strip_tags(html).alias("clean_text"),
        F.regexp_count(html, F.lit(_TAG)).cast("bigint").alias("n_tags"),
    )


def main_content(documents: DataFrame) -> DataFrame:
    """jusText-style block classification: split the DOM on block-level
    closing tags; per block compute word count and link density (chars
    inside <a> / text chars); a block is CONTENT iff it has at least
    5 words and link density <= 1/3 (3333 x10⁻⁴). Output one
    row per doc: (doc_id, n_blocks, n_content_blocks, main_text) with
    main_text = content blocks joined in document order.

    Scale shape: split + transform + filter + aggregate over a per-row
    array — no explode, no shuffle; the whole classifier runs in
    codegen on the scan."""
    # script/style bodies can contain block-closing tags — remove them
    # BEFORE segmentation (jusText operates on the cleaned DOM)
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col("html"), _SCRIPT_BLOCK, " "), _STYLE_BLOCK, " "
    )
    blocks = F.split(cleaned, _BLOCK_CLOSE)

    def block_struct(b):
        text = _strip_tags(b, scripts_removed=True)
        n_words = F.when(F.length(text) > 0, F.size(F.split(text, " "))).otherwise(F.lit(0))
        link_chars = F.aggregate(
            F.regexp_extract_all(b, F.lit(_ANCHOR_TEXT), F.lit(1)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.length(t),
        )
        density_x10k = F.when(
            F.length(text) > 0, F.floor(link_chars * 10000 / F.length(text))
        ).otherwise(F.lit(10000))
        return F.struct(
            text.alias("text"),
            n_words.cast("long").alias("n_words"),
            density_x10k.cast("long").alias("density_x10k"),
        )

    scored = F.filter(
        F.transform(blocks, block_struct), lambda s: s["n_words"] > 0
    )
    # stage the scored-block array as a BOUND COLUMN (r7): the final
    # projection references it three times (n_blocks, content filter,
    # main_text), and an inline non-cheap expression re-runs its regex
    # chain per reference; as a multi-use column CollapseProject keeps
    # it staged and it evaluates once per row (the quantize_embeddings
    # pattern) — measured 2.1 -> 0.9 s at sf0.1
    staged = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        scored.alias("__blocks"))
    content = F.filter(
        F.col("__blocks"),
        lambda s: (s["n_words"] >= 5) & (s["density_x10k"] <= 3333),
    )
    staged = staged.select(
        "doc_id", "__blocks", content.alias("__content"))
    return staged.select(
        "doc_id",
        F.size("__blocks").cast("bigint").alias("n_blocks"),
        F.size("__content").cast("bigint").alias("n_content_blocks"),
        F.array_join(F.transform("__content", lambda s: s["text"]), " ")
        .alias("main_text"),
    )


# --------------------------------------------------------------- oracles
# DuckDB twins: identical decoration, regex chains, and thresholds.

_SQL_DECORATE = """
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><script>var x=1;</script></head><body>' ||
         '<nav><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></nav>' ||
         CASE
           WHEN doc_id % 3 = 0 THEN '<div class="ad"><a href="/buy">buy now</a> <a href="/deal">big deal</a></div>'
           WHEN doc_id % 3 = 1 THEN '<div class="promo"><a href="/sub">subscribe</a> to our newsletter</div>'
           ELSE '<div class="share"><a href="/tw">tweet</a> <a href="/fb">share</a> <a href="/in">post</a></div>'
         END ||
         '<p>' || text || '</p>' ||
         '<footer><a href="/terms">terms</a> copyright 2024</footer>' ||
         '</body></html>' AS html
  FROM documents
"""

_SQL_STRIP = (
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace({col}, "
    "'(?s)<script[^>]*>.*?</script>', ' ', 'g'), "
    "'(?s)<style[^>]*>.*?</style>', ' ', 'g'), "
    "'<[^>]*>', ' ', 'g'), "
    "'&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'), "
    "'&nbsp;', ' ', 'g'), ' +', ' ', 'g'))"
)

STRIP_HTML_SQL = f"""
WITH d AS ({_SQL_DECORATE})
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_SQL_STRIP.format(col="html")} AS clean_text,
       CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags
FROM d
"""

MAIN_CONTENT_SQL = f"""
WITH d AS ({_SQL_DECORATE}),
blk AS (
  SELECT doc_id,
         list_transform(
           regexp_split_to_array(
             regexp_replace(regexp_replace(html,
               '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
             '</(p|div|nav|footer|li|h1|h2|h3)>'),
           b -> {{
             'text': {_SQL_STRIP.format(col="b")},
             'links': CAST(COALESCE(list_sum(
               list_transform(regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1),
                              t -> len(t))), 0) AS BIGINT)
           }}) AS bs
  FROM d),
scored AS (
  SELECT doc_id,
         list_transform(
           list_filter(bs, s -> len(s.text) > 0),
           s -> {{
             'text': s.text,
             'n_words': CAST(len(string_split(s.text, ' ')) AS BIGINT),
             'density_x10k': CAST(FLOOR(s.links * 10000 / len(s.text)) AS BIGINT)
           }}) AS bs
  FROM blk)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(bs) AS BIGINT) AS n_blocks,
       CAST(len(list_filter(bs, s -> s.n_words >= 5 AND s.density_x10k <= 3333)) AS BIGINT)
         AS n_content_blocks,
       array_to_string(
         list_transform(
           list_filter(bs, s -> s.n_words >= 5 AND s.density_x10k <= 3333),
           s -> s.text), ' ') AS main_text
FROM scored
"""


_ANCHOR_FULL = '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_links(documents: DataFrame) -> DataFrame:
    """(doc_id, link_idx, href, anchor_text) — one row per <a> in
    document order; the DOM link-graph feed (outlink extraction for
    crawl frontier / PageRank-style dedup). One regexp_extract_all +
    posexplode: the explode is scan-local, the only wide op is whatever
    the caller aggregates next."""
    hrefs = F.regexp_extract_all(F.col("html"), F.lit(_ANCHOR_FULL), F.lit(1))
    texts = F.regexp_extract_all(F.col("html"), F.lit(_ANCHOR_FULL), F.lit(2))
    pairs = F.zip_with(hrefs, texts, lambda h, t: F.struct(h.alias("href"), t.alias("anchor_text")))
    return documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode(pairs).alias("link_idx", "l"),
    ).select(
        "doc_id",
        F.col("link_idx").cast("bigint").alias("link_idx"),
        F.col("l.href").alias("href"),
        F.col("l.anchor_text").alias("anchor_text"),
    )


EXTRACT_LINKS_SQL = f"""
WITH d AS ({_SQL_DECORATE}),
l AS (
  SELECT doc_id,
         regexp_extract_all(html, '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS hs,
         regexp_extract_all(html, '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS ts
  FROM d)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(i - 1 AS BIGINT) AS link_idx,
       hs[i] AS href,
       ts[i] AS anchor_text
FROM l, lateral unnest(range(1, len(hs) + 1)) u(i)
"""
