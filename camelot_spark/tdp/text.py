"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

All pure `pyspark.sql.functions` expressions (whole-stage codegen; no
Python in the hot path). Outputs are integers/strings so the DuckDB
oracles hash-match exactly; where doubles are unavoidable the same
operation order is used on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# pseudo-language stopword profiles over the synthetic corpus vocab
LANG_PROFILES = {
    "data": ["data", "row", "column", "table"],
    "perf": ["fast", "slow", "small", "big"],
    "query": ["query", "scan", "filter", "join"],
}

STOPWORDS = ["a", "the", "of", "and", "in"]


def _tokens(col):
    return F.split(col, " ")


def _clean_toks():
    """Lowercased non-empty tokens of ``text`` with NULL text folded to
    the empty list — the one definition of the NULL-safe tokenizer
    shared by the feature-hash embeddings and hard-negative mining
    (mirrored in the DuckDB twins' list_filter/COALESCE form)."""
    return F.filter(
        _tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))),
        lambda t: F.length(t) > 0)


_POLY_M = 1_000_000_007
# hashed vectors are 64 wide (a power of two: bucket and sign are bit
# ops); searches rank the top 10 around doc 0; hard negatives share >= 3
# distinct tokens with it and sit beyond squared-L2 distance 8
_HASH_DIM, _QUERY_DOC_ID, _TEXT_TOP_K, _DUP_DIST = 64, 0, 10, 8


def portable_token_hash(t):
    """Portable polynomial hash of a token's first 8 chars (fold over
    chars, mod 1e9+7) — reproducible in DuckDB, unlike xxhash64. Used
    by winnowing, the ``portable=True`` minhash variant, and the
    feature-hash embeddings.

    Implemented FLAT (branch-on-length over 8 incremental Horner
    partial sums) rather than as an aggregate-over-split-chars lambda:
    higher-order-function lambdas are interpreted per element, and
    this hash runs once per token of the corpus. ``ascii()`` returns
    full codepoints (≤ 0x10FFFF), so the unreduced partial sums stay
    < 0x10FFFF·31⁷·31/30 ≈ 3.2e16 (int64-safe; do NOT extend past
    ~10 chars without re-deriving this bound), and one trailing
    ``% M`` equals the per-step mod of the reference fold — value
    equality with the old aggregate-over-split form is pinned by
    tests/test_round5_review.py::test_portable_token_hash_flat_equals_reference
    and by the unchanged DuckDB twins (which keep the list_reduce
    shape). A NULL token hashes to NULL, as the old form's
    split-propagation did."""
    def a(i):
        # ascii('') = 0 = the fold's skipped-step identity, so probing
        # past the token's end is harmless; non-ASCII chars hash by
        # codepoint, identical to ascii() over split() chars
        return F.coalesce(F.ascii(F.substring(t, i, 1)),
                          F.lit(0)).cast("long")

    s = a(1)
    partial = [s]
    for i in range(2, 9):
        s = s * 31 + a(i)
        partial.append(s)
    ln = F.least(F.length(t), F.lit(8))
    h = F.when(ln <= 1, partial[0])
    for k in range(2, 9):
        h = h.when(ln == k, partial[k - 1])
    # ln is NULL for a NULL token: every when() is false, otherwise()
    # would turn that into 0 — gate it so NULL propagates like the
    # old split/aggregate form
    return F.when(
        t.isNotNull(),
        h.otherwise(F.lit(0).cast("long")) % F.lit(_POLY_M))


def _in_profile(words):
    # factory, not a lambda default: Spark's HOF wrapper binds every
    # lambda PARAMETER to a Column (see minhash_signatures)
    return lambda w: F.array_contains(F.array(*[F.lit(x) for x in words]), w)


def _profile_hits(toks, p: str):
    """Occurrences of profile ``p``'s words in the token array ``toks``."""
    return F.size(F.filter(toks, _in_profile(LANG_PROFILES[p])))


def _lang_vote(score_of):
    """Argmax profile name over the Columns ``score_of(p)``, ties →
    lexicographically smallest name."""
    pred = F.lit(None).cast("string")
    best = F.lit(-1)
    for p in sorted(LANG_PROFILES):  # later names only win with strictly higher score
        pred = F.when(score_of(p) > best, F.lit(p)).otherwise(pred)
        best = F.greatest(best, score_of(p))
    return pred


def _quality_x100(toks):
    """Composite quality of the token array ``toks``: stopword ratio
    ×40 + long-token ratio ×30 + length term ×30, ×100 floored to
    BIGINT."""
    n_tok = F.size(toks).cast("double")
    stop_ratio = (
        F.size(F.filter(toks, lambda w: F.array_contains(F.array(*[F.lit(s) for s in STOPWORDS]), w))).cast("double")
        / n_tok
    )
    long_ratio = F.size(F.filter(toks, lambda w: F.length(w) > 5)).cast("double") / n_tok
    len_term = F.least(n_tok, F.lit(100.0)) / F.lit(100.0)
    score = stop_ratio * 40 + long_ratio * 30 + len_term * 30
    return F.floor(score * 100).cast("bigint")


def langid(documents: DataFrame) -> DataFrame:
    """N-gram/stopword-profile language vote: per doc, count profile-word
    occurrences per profile; predict the argmax (ties → lexicographically
    smallest profile name)."""
    base = documents.select("doc_id", _tokens(F.col("text")).alias("toks"))
    scored = base.select(
        "doc_id",
        *[_profile_hits("toks", p).alias(f"score_{p}") for p in LANG_PROFILES],
    )
    pred = _lang_vote(lambda p: F.col(f"score_{p}"))
    return scored.select("doc_id", pred.alias("pred_lang"))


def quality_score(documents: DataFrame) -> DataFrame:
    """Composite quality score (``_quality_x100``) per document, as
    BIGINT for exact oracle comparison."""
    base = documents.select("doc_id", _tokens(F.col("text")).alias("toks"))
    return base.select("doc_id", _quality_x100(F.col("toks")).alias("quality_x100"))


def token_stats(documents: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish regex token count (single
    references each — no intermediate projection needed)."""
    return documents.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0))
        .cast("bigint")
        .alias("re_tokens"),
        F.length("text").cast("bigint").alias("n_chars_m"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Position-weighted integer document fingerprint (rolling-hash
    analog, exact integer arithmetic → portable across engines):
    fp = Σ_i (len(w_i)*31 + ascii(w_i[0])) * ((i mod 97) + 1), i 1-based.

    Scale shape: a per-row indexed array fold (transform-with-index →
    aggregate) — no explode, no groupBy, ZERO shuffle. The previous
    posexplode + groupBy(doc_id) form shipped one shuffle row per token
    (the tokenized corpus) at 100 TB; this stays in whole-stage codegen
    on the scan.
    """
    terms = F.transform(
        _tokens(F.col("text")),
        lambda w, i: (
            (F.length(w) * 31 + F.ascii(F.substring(w, 1, 1)))
            * (((i + 1) % 97) + 1)
        ).cast("long"),
    )
    fp = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return documents.select("doc_id", fp.cast("bigint").alias("fp"))


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher/CCNet-style repetition filters, the standard LLM-corpus
    quality gates: duplicate-word fraction (1 − distinct/total),
    top-word dominance (most frequent word / total), and duplicate
    word-bigram fraction. All per-row array algebra (sort + fold), zero
    shuffle; ×10⁴ floored to BIGINT for exact oracle comparison."""
    # tokens projected to a column once: every re-reference of a
    # split() expression re-tokenizes the text (see quantize_embeddings
    # for the same intermediate-projection rule)
    base = documents.select("doc_id", _tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n = F.size(toks).cast("double")
    dup_word = (n - F.size(F.array_distinct(toks)).cast("double")) / n
    # most-frequent-word count = longest run in the sorted token array
    # (left fold with (prev, run, best) accumulator — O(n log n)/row)
    run = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
    )["best"]
    top_word = run.cast("double") / n
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = base.select("doc_id", "toks", grams.alias("grams"),
                         F.floor(dup_word * 10000).cast("bigint").alias("dup_word_x10k"),
                         F.floor(top_word * 10000).cast("bigint").alias("top_word_x10k"))
    ng = F.size("grams").cast("double")
    dup_bigram = F.when(
        ng > 0, (ng - F.size(F.array_distinct("grams")).cast("double")) / ng
    ).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        "dup_word_x10k",
        "top_word_x10k",
        F.floor(dup_bigram * 10000).cast("bigint").alias("dup_bigram_x10k"),
    )


REPETITION_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
top AS (
  SELECT doc_id, MAX(c) AS maxc FROM (
    SELECT doc_id, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS w FROM t)
    GROUP BY doc_id, w)
  GROUP BY doc_id),
g AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
         CASE WHEN len(toks) >= 2 THEN
           [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]
         ELSE [] END AS grams
  FROM t)
SELECT g.doc_id,
       CAST(FLOOR((n - nd) / n * 10000) AS BIGINT) AS dup_word_x10k,
       CAST(FLOOR(CAST(top.maxc AS DOUBLE) / n * 10000) AS BIGINT) AS top_word_x10k,
       CAST(FLOOR(CASE WHEN len(grams) > 0
            THEN (CAST(len(grams) AS DOUBLE) - CAST(len(list_distinct(grams)) AS DOUBLE)) / CAST(len(grams) AS DOUBLE)
            ELSE 0.0 END * 10000) AS BIGINT) AS dup_bigram_x10k
FROM g JOIN top ON top.doc_id = g.doc_id
"""


def normalize_text(documents: DataFrame) -> DataFrame:
    """Canonical text normalization (the pre-dedup cleanup step of a
    training-data pipeline): lowercase → non-alphanumerics to spaces →
    whitespace collapse → trim. Pure codegen expressions, zero shuffle;
    the DuckDB oracle applies the identical regex chain."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return documents.select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(F.split(norm, " ")).cast("bigint").alias("n_norm_tokens"),
    )


NORMALIZE_SQL = """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
       CAST(len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT) AS n_norm_tokens
FROM documents
"""


# RE2-safe patterns (no lookaround/backrefs) so the Java-regex Spark
# side and the RE2 DuckDB side match byte-for-byte
_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
_PII_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


def decorate_pii(documents: DataFrame) -> DataFrame:
    """Append deterministic PII-bearing suffixes (keyed on doc_id) to
    ``text`` — the test/bench corpus is synthetic and PII-free, so the
    registry query decorates it to exercise real replacements."""
    return documents.select("doc_id", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" contact bob@example.com now"))
        .when(F.col("doc_id") % 7 == 1, F.lit(" call 555-867-5309 today"))
        .when(F.col("doc_id") % 7 == 2, F.lit(" server at 10.0.42.7 responded"))
        .otherwise(F.lit("")),
    ).alias("text"))


def scrub_pii(documents: DataFrame) -> DataFrame:
    """PII scrub for training data: mask emails/phones/IPs in ``text``
    with typed tokens, report per-kind hit counts + the scrubbed text.
    Zero shuffle — regexp codegen on the scan."""
    text = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
        ),
        _PII_IP,
        "<IP>",
    )
    return documents.select(
        "doc_id",
        F.regexp_count(text, F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(text, F.lit(_PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count(text, F.lit(_PII_IP)).cast("bigint").alias("n_ips"),
        scrubbed.alias("scrubbed"),
    )


SCRUB_PII_SQL = f"""
WITH d AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 7 = 0 THEN ' contact bob@example.com now'
           WHEN doc_id % 7 = 1 THEN ' call 555-867-5309 today'
           WHEN doc_id % 7 = 2 THEN ' server at 10.0.42.7 responded'
           ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(t,
         '{_PII_EMAIL}', '<EMAIL>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g'),
         '{_PII_IP}', '<IP>', 'g') AS scrubbed
FROM d
"""


def top_ngrams(documents: DataFrame) -> DataFrame:
    """Corpus-wide top-20 word bigrams with counts — the vocabulary/
    contamination-audit aggregation. The explode→count shuffle is
    inherent to a global aggregate; Spark plans it as map-side partial
    HashAggregate + exchange on the n-gram key + TakeOrdered for the
    top-k (no global sort).

    r7: grams form as explode(arrays_zip of n shifted slices) + ONE
    post-explode concat_ws projection — every per-gram step is codegen;
    the old transform(sequence, i -> concat_ws(slice)) ran an
    interpreted lambda (with an array allocation) per position. Same
    gram multiset: slices are empty when size < n, NULL text zips to
    NULL and inner explode drops both."""
    n = 2
    toks = _tokens(F.col("text"))
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(n)])
    z = F.col("__ng")
    return (
        documents.select(F.explode(zipped).alias("__ng"))
        .select(F.concat_ws(
            " ", *[z[str(i)] for i in range(n)]).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(20)
    )


TOP_NGRAMS_SQL = """
WITH g AS (
  SELECT unnest([array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]) AS ngram
  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 2)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM g GROUP BY ngram
ORDER BY cnt DESC, ngram ASC
LIMIT 20
"""


LANGID_SQL = """
WITH scored AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> w IN ('data','row','column','table'))) AS s_data,
         len(list_filter(string_split(text, ' '), w -> w IN ('fast','slow','small','big'))) AS s_perf,
         len(list_filter(string_split(text, ' '), w -> w IN ('query','scan','filter','join'))) AS s_query
  FROM documents)
SELECT doc_id,
       CASE
         WHEN s_query > s_data AND s_query > s_perf THEN 'query'
         WHEN s_perf > s_data AND s_perf >= s_query THEN 'perf'
         ELSE 'data'
       END AS pred_lang
FROM scored
"""

QUALITY_SQL = """
SELECT doc_id,
       CAST(FLOOR((
         (CAST(len(list_filter(string_split(text,' '), w -> w IN ('a','the','of','and','in'))) AS DOUBLE)
            / CAST(len(string_split(text,' ')) AS DOUBLE)) * 40
       + (CAST(len(list_filter(string_split(text,' '), w -> length(w) > 5)) AS DOUBLE)
            / CAST(len(string_split(text,' ')) AS DOUBLE)) * 30
       + LEAST(CAST(len(string_split(text,' ')) AS DOUBLE), 100.0) / 100.0 * 30
       ) * 100) AS BIGINT) AS quality_x100
FROM documents
"""

TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_m
FROM documents
"""

FINGERPRINT_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents)
SELECT doc_id,
       CAST(SUM((length(w)*31 + ord(w[1:1])) * ((pos % 97) + 1)) AS BIGINT) AS fp
FROM tok GROUP BY doc_id
"""


def winnow_fingerprints(documents: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.: min token-hash
    per sliding 4-token window, deduplicated) — the standard local-fingerprint
    scheme for plagiarism/near-dup detection.

    Token hashes use a portable polynomial hash (fold over chars,
    mod 1e9+7) so the DuckDB oracle reproduces them exactly; everything
    is per-row array algebra — zero shuffle at any scale."""
    # hash the first 8 chars only: bounds the per-token fold (tokens
    # rarely collide in-window on an 8-char prefix, and the window min
    # is what matters) — mirrored exactly in the oracle.
    # Hashes projected to a column first: each of the w shifted slices
    # would otherwise re-run the whole per-token hash fold.
    base = documents.select(
        "doc_id",
        F.transform(_tokens(F.col("text")), portable_token_hash).alias("hs"),
    )
    hashes = F.col("hs")
    n = F.size(hashes)
    # sliding-window min as an elementwise least over w shifted copies:
    # O(n) arrays instead of O(n*w) per-window slices
    w = 4
    L = n - w + 1
    shifted = [F.slice(hashes, 1 + k, L) for k in range(w)]
    mins = shifted[0]
    for sh in shifted[1:]:
        mins = F.zip_with(mins, sh, lambda a, b: F.least(a, b))
    wins = F.when(n >= w, F.array_distinct(mins)).otherwise(F.array().cast("array<long>"))
    return base.select(
        "doc_id",
        F.size(wins).cast("bigint").alias("n_fingerprints"),
        F.coalesce(F.array_min(wins), F.lit(-1)).cast("bigint").alias("min_fp"),
        F.coalesce(F.array_max(wins), F.lit(-1)).cast("bigint").alias("max_fp"),
    )


WINNOW_SQL = """
WITH h AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(t[1:8], ''), c -> CAST(ord(c) AS BIGINT))),
                (a, b) -> (a * 31 + b) % 1000000007)) AS hs
  FROM documents),
wins AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4 THEN
           list_distinct([list_min(hs[i:i+3]) FOR i IN range(1, len(hs) - 2)])
         ELSE [] END AS fps
  FROM h)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       CAST(COALESCE(list_min(fps), -1) AS BIGINT) AS min_fp,
       CAST(COALESCE(list_max(fps), -1) AS BIGINT) AS max_fp
FROM wins
"""


def token_rarity(documents: DataFrame) -> DataFrame:
    """CCNet-style corpus-frequency quality signal, integer-exact:
    per document, the mean corpus-wide occurrence count of its word
    tokens and the fraction (ppm) of tokens that are corpus-rare
    (count <= 2). Docs dominated by rare tokens are
    OCR garbage / boilerplate hashes / non-language — the
    LM-perplexity-filter surrogate that stays deterministic across
    engines (a real LM score is float and engine-specific).

    Plan shape: scan-local explode -> corpus term counts (one
    partial-agg shuffle on the term, the same O(corpus tokens) order as
    any tokenize pass) -> count join back on the term -> per-doc agg on
    doc_id. Every shuffled row is (term-hash-sized key, long); the mean
    uses DIV so the oracle reproduces it bit-for-bit."""
    toks = documents.select(
        "doc_id", F.explode(_tokens(F.lower(F.col("text")))).alias("term")
    ).where(F.length("term") > 0)
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.join(counts, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("sum_c"),
            F.sum(F.when(F.col("c") <= 2, 1).otherwise(0))
            .alias("n_rare"),
        )
        .selectExpr(
            "doc_id",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(sum_c DIV n_tokens AS BIGINT) AS mean_tok_count",
            "CAST((n_rare * CAST(1000000 AS BIGINT)) DIV n_tokens AS BIGINT)"
            " AS rare_ppm",
        )
    )


TOKEN_RARITY_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
tok AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
counts AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(c) // COUNT(*) AS BIGINT) AS mean_tok_count,
       CAST(SUM(CASE WHEN c <= 2 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS rare_ppm
FROM tok JOIN counts USING (term)
GROUP BY doc_id
"""


def lm_bigram_score(documents: DataFrame) -> DataFrame:
    """Bigram-LM fluency score, integer-exact: per document, the mean
    bigram "surprisal" in whole bits — floor(log2 c(w1)) −
    floor(log2 c(w1,w2)) summed over the doc's adjacent token pairs,
    where counts are corpus-wide. Low = predictable/fluent word
    sequences, high = improbable transitions (OCR noise, shuffled
    boilerplate, non-language) — the KenLM-perplexity-filter surrogate
    that stays deterministic across engines (a real LM is float and
    engine-specific; floor-log2 via length(bin(x))−1 is bit-identical
    on Spark and DuckDB).

    Plan shape: bigram formation is scan-local (an array transform +
    explode, no shuffle); then two partial-agg count shuffles (unigram
    term, bigram pair — same O(corpus tokens) order as any tokenizer
    pass), count joins back on those keys, and a per-doc agg. Every
    shuffled row is a short-key + long. Docs with fewer than two
    tokens have no bigrams and are omitted."""
    toks = documents.select(
        "doc_id",
        F.filter(_tokens(F.lower(F.col("text"))),
                 lambda t: F.length(t) > 0).alias("toks"),
    )
    # r7: bigram rows via explode(arrays_zip of two shifted slices) +
    # a codegen field projection — the old transform(sequence, i ->
    # struct(toks[i-1], toks[i])) lambda was interpreted per position.
    cnt = F.greatest(F.size("toks") - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice("toks", 1, cnt), F.slice("toks", 2, cnt))
    bi = toks.where(F.size("toks") >= 2).select(
        "doc_id", F.explode(zipped).alias("bg"),
    ).select("doc_id", F.col("bg")["0"].alias("w1"),
             F.col("bg")["1"].alias("w2"))
    uni = (
        toks.select(F.explode("toks").alias("w1"))
        .groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    )
    big = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    surp = (F.length(F.bin(F.col("c1")))
            - F.length(F.bin(F.col("c12")))).cast("bigint")
    # r7 join reassociation (guide §2.3): attach counts on the SMALL
    # per-bigram-TYPE table (big ⋈ uni — vocab-sized), then join the
    # per-occurrence fact rows ``bi`` ONCE on (w1, w2) — the old
    # bi ⋈ uni ⋈ big chain shuffled the corpus-sized fact table twice
    # (once by w1, again by (w1, w2)). Integer surprisal per type is
    # identical, so sums are identical.
    surp_tab = big.join(uni, "w1").select("w1", "w2", surp.alias("surp"))
    return (
        bi.join(surp_tab, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("surp").alias("sum_bits"))
        .selectExpr(
            "doc_id",
            "CAST(n_bigrams AS BIGINT) AS n_bigrams",
            "CAST(sum_bits AS BIGINT) AS sum_bits",
            "CAST((sum_bits * CAST(1000 AS BIGINT)) DIV n_bigrams AS BIGINT)"
            " AS bits_x1000",
        )
    )


LM_BIGRAM_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '),
                     x -> length(x) > 0) AS toks
  FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS w1 FROM t),
uni AS (SELECT w1, COUNT(*) AS c1 FROM tok GROUP BY w1),
bi AS (
  SELECT doc_id, unnest(
           [struct_pack(w1 := toks[i], w2 := toks[i + 1])
            FOR i IN range(1, len(toks))], recursive := true)
  FROM t WHERE len(toks) >= 2),
bic AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(length(bin(c1)) - length(bin(c12))) AS BIGINT) AS sum_bits,
       CAST(SUM(length(bin(c1)) - length(bin(c12))) * 1000 // COUNT(*)
            AS BIGINT) AS bits_x1000
FROM bi JOIN uni USING (w1) JOIN bic USING (w1, w2)
GROUP BY doc_id
"""


def boilerplate_strip(documents: DataFrame, min_ratio_ppm: int) -> DataFrame:
    """Per-source boilerplate removal, document-frequency based (the
    C4/RefinedWeb "same line on most pages of a site" filter, over
    token 3-grams since this corpus has no line structure): a
    3-gram occurring in >= ``min_ratio_ppm``/1e6 of a source's docs
    (and in >= 2 docs) is boilerplate — every occurrence
    is struck from every doc of that source, removing the covered
    token positions (overlapping hits union). Distinct from
    ``substr_dedup`` (which targets long LITERAL spans duplicated
    anywhere): this keys on how many documents repeat a short gram,
    the header/footer signature. Output:
    (doc_id, n_tokens, n_removed, clean_text).

    Plan shape: gram formation is scan-local (array transform);
    document frequency is a two-phase count-distinct on
    (source, gram) keys — partial-agg both phases, shuffled rows are
    short-string keys + longs, never texts. The boilerplate set (tiny
    after the ratio filter: only grams repeated across most of a
    source survive) joins back against per-position gram rows; cover
    masking is a per-row array filter. No full-text shuffle: the only
    wide op carrying text is the final left join keyed on doc_id.
    """
    n = 3
    toks = documents.select(
        "doc_id", "source", _tokens(F.col("text")).alias("toks"))
    # r7: gram array via arrays_zip of n shifted slices + one concat
    # per element — the old per-position transform(sequence, i ->
    # concat_ws(slice)) allocated an array per element inside the
    # interpreted HOF evaluator (~1.5× on the gram stage, and this
    # subtree is evaluated by BOTH the document-frequency branch and
    # the hit-position branch)
    cnt = F.greatest(F.size("toks") - (n - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, cnt) for i in range(n)])
    gram_arr = F.when(
        F.size("toks") >= n,
        F.transform(zipped, lambda z: F.concat_ws(
            " ", *[z[str(i)] for i in range(n)])),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.withColumn("grams", gram_arr)
    # df = docs-containing-gram: dedup WITHIN the doc map-side
    # (array_distinct) so the shuffle is a plain partial-agg count of
    # one row per (doc, distinct gram) — a countDistinct over raw
    # occurrences would carry every repeat and pay a distinct state
    df_counts = (
        grams.select("source",
                     F.explode(F.array_distinct("grams")).alias("gram"))
        .groupBy("source", "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    n_docs = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    boil = (
        df_counts.join(n_docs, "source")
        .where((F.col("df") >= 2)
               & (F.col("df") * F.lit(1_000_000)
                  >= F.col("n_docs") * F.lit(min_ratio_ppm)))
        .select("source", "gram")
    )
    hits = (
        grams.select(
            "doc_id", "source",
            F.posexplode("grams").alias("pos", "gram"))
        # no broadcast hint: boil's size is data-dependent (a low
        # min_ratio_ppm can sweep in a large slice of the gram
        # vocabulary), so let AQE broadcast it only when it actually
        # measures small and fall back to a shuffle join otherwise
        .join(boil, ["source", "gram"])
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.coalesce(F.col("starts"), F.array().cast("array<int>")),
            lambda s: (i >= s) & (i < s + F.lit(n))),
    )
    return (
        toks.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed"),
            F.concat_ws(" ", kept).alias("clean_text"),
        )
    )


# 1-based starts/positions throughout (DuckDB lists); coverage test is
# s <= j <= s + n - 1, identical to the Spark 0-based i in [s, s+n).
# Twin pins min_ratio_ppm=120000 (the driver query's setting — the
# synthetic corpus is near-uniform token soup, so the production 50%
# default never fires there; 12% exercises the strip path at both
# driver SFs while staying far above single-doc noise).
BOILERPLATE_STRIP_SQL = """
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, source, unnest(
           [struct_pack(s := i, gram := array_to_string(toks[i:i+2], ' '))
            FOR i IN range(1, len(toks) - 1)], recursive := true)
  FROM t WHERE len(toks) >= 3),
dfc AS (
  SELECT source, gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM g GROUP BY 1, 2),
nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY 1),
boil AS (
  SELECT source, gram FROM dfc JOIN nd USING (source)
  WHERE df >= 2 AND df * 1000000 >= n_docs * 120000),
hits AS (
  SELECT doc_id, list(DISTINCT s) AS starts
  FROM g JOIN boil USING (source, gram) GROUP BY doc_id),
m AS (
  SELECT t.doc_id, toks,
         list_filter(toks, (tk, j) -> len(list_filter(
             COALESCE(starts, []), s -> s <= j AND j <= s + 2)) = 0) AS kept
  FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       array_to_string(kept, ' ') AS clean_text
FROM m
"""


def feature_hash_vec(documents: DataFrame):
    """Hashing-trick document vectors (Weinberger et al.'s feature
    hashing): text -> dim-D SIGNED INTEGER vector with zero external
    model — each token's portable hash picks a bucket (low bits) and a
    sign (the next bit); the vector is the signed bucket-count sum.
    The standard cheap embedding for dedup/clustering/retrieval when
    no learned encoder is in the pipeline, and the bridge from the
    text tables to every ANN operator here (identical array<long>
    geometry, exact cross-engine arithmetic — a float encoder could
    never be oracle-pinned).

    The width is a power of two: bucket = h & (dim-1) and
    sign = bit log2(dim) of h are pure integer bit ops on BOTH
    engines (no DIV-vs-// or float-division divergence).

    Scale shape: explode_outer -> partial-agg signed sum on (doc_id,
    bucket) -> per-doc map -> dense array, ONE scan end to end.
    Spark does NOT codegen higher-order-function lambdas, so the
    tempting per-row form (transform over dim buckets x aggregate
    over tokens) is O(dim·tokens) INTERPRETED evals per doc —
    measured 30x slower than this shape at sf0.1. Here everything
    except one O(dim²) map-probe projection per doc is whole-stage
    codegen, and the shuffle after map-side combine carries at most
    ``_HASH_DIM`` short rows per doc — bounded, skew-free (doc_id keys),
    linear to any corpus size. Returns (doc_id, vec: array<long>).

    Contract: ``doc_id`` is the table's primary key (as everywhere in
    this package). Rows sharing a doc_id — or multiple NULL doc_ids —
    aggregate into ONE pooled vector per key, not one per row.
    """
    import pyarrow as pa

    dim = _HASH_DIM
    sign_bit = dim.bit_length() - 1
    mask = dim - 1
    # tokenization (lower/split/filter, NULL text -> []) stays a JVM
    # expression — Python string lowering could diverge on exotic
    # unicode; only the pure-INTEGER hash/scatter moves to Python
    toks = _clean_toks()

    # r7 (guide §4.2): the hash+bucket+sign scatter runs in mapInArrow
    # over the token arrays instead of explode_outer + two groupBy
    # passes — the hash is the same portable fold ((h·31+cp) over the
    # first 8 codepoints, mod 1e9+7; Python slicing and ord() are the
    # identical codepoint walk), buckets/signs the same bit ops, and
    # every sum is integer so ORDER cannot matter: bit-identical by
    # construction, pinned by
    # tests/test_round7.py::test_feature_hash_vec_arrow_matches_explode_agg.
    # One slim (doc_id, dim longs) row per input row crosses back.
    def batches(it):
        M = _POLY_M
        for batch in it:
            ids = batch.column("doc_id")
            tcol = batch.column("toks").to_pylist()
            vecs = []
            for ts in tcol:
                vec = [0] * dim
                for t in (ts or ()):
                    if t is None:
                        continue  # NULL token: weight 0 like the old
                        # coalesce(bucket,0)/coalesce(sign,0) row
                    h = 0
                    for c in t[:8]:
                        h = h * 31 + ord(c)
                    h %= M
                    vec[h & mask] += 1 - 2 * ((h >> sign_bit) & 1)
                vecs.append(vec)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(vecs, pa.list_(pa.int64()))],
                names=["doc_id", "vec"])

    per_row = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), toks.alias("toks")
    ).mapInArrow(batches, "doc_id bigint, vec array<bigint>")
    # pooled per key exactly like the old global groupBy: rows sharing
    # a doc_id (or multiple NULL ids) sum into ONE vector — integer
    # sums commute, so per-row vectors summed per key == the old
    # per-(doc, bucket) aggregation; PK corpora fold 1-element lists
    return per_row.groupBy("doc_id").agg(
        F.aggregate(
            F.collect_list("vec"),
            F.array_repeat(F.lit(0).cast("long"), dim),
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("vec"))


def feature_hash_embed(documents: DataFrame) -> DataFrame:
    """Driver-query surface over ``feature_hash_vec``: the vector as a
    comma-joined string plus integer invariants, so the cross-engine
    compare pins every component exactly. Output
    (doc_id, vec_str, norm_sq, nnz)."""
    v = feature_hash_vec(documents)
    return v.select(
        "doc_id",
        F.array_join(F.transform("vec", lambda x: x.cast("string")),
                     ",").alias("vec_str"),
        F.aggregate("vec", F.lit(0).cast("long"),
                    lambda a, x: a + x * x).alias("norm_sq"),
        F.size(F.filter("vec", lambda x: x != 0))
        .cast("bigint").alias("nnz"),
    )


def hashed_topk(documents: DataFrame) -> DataFrame:
    """Exact integer nearest-neighbour search over the hashed vectors:
    top-k docs by squared L2 distance to the query doc's vector —
    the full text -> vector -> search chain with no float anywhere,
    so the whole pipeline (tokenize, hash, embed, score, rank) is
    pinned by one oracle. Ties break on doc_id.

    Scale shape: the vectors come from ``feature_hash_vec``'s bounded
    partial-agg pipeline (≤ dim shuffle rows per doc), the 1-row
    query broadcasts, and the global lone-rank filter plans a
    TakeOrderedAndProject k-row pre-reduce per task (same shape as
    ``pq_topk``). Output (doc_id, dist, rank)."""
    scored = _query_dists(feature_hash_vec(documents), _QUERY_DOC_ID)
    w = Window.orderBy(F.asc("dist"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TEXT_TOP_K)
        .select("doc_id", "dist", F.col("rank").cast("bigint").alias("rank"))
    )


def _query_dists(emb, query_doc_id: int, candidates=None):
    """(doc_id, dist) per scored vector: exact integer squared L2 to
    the query doc's hashed vector, 1-row query broadcast. The one
    definition of the cross-engine-sensitive distance branch, shared
    by ``hashed_topk``, ``mine_hard_negatives`` and
    ``hashed_ivf_topk``. ``candidates`` restricts the scored side to a
    (doc_id, vec) subset (the IVF probe slice); the query vector is
    always looked up in the full ``emb``."""
    q = emb.where(F.col("doc_id") == query_doc_id).select(
        F.col("vec").alias("q_vec"))
    dist = F.aggregate(
        F.zip_with("vec", "q_vec", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    side = emb if candidates is None else candidates
    return (
        side.where(F.col("doc_id") != query_doc_id)
        .crossJoin(F.broadcast(q))
        .select("doc_id", dist.alias("dist"))
    )


# Both engines: bucket = h & (dim-1), sign = 1 - 2*((h >> 6) & 1) for
# dim 64 — pure bit ops, no integer-division dialect divergence.
_HASHED_VEC_CTE = """
h AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_transform(
           list_filter(string_split(lower(text), ' '), t -> len(t) > 0),
           t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(t[1:8], ''),
                                   c -> CAST(ord(c) AS BIGINT))),
                (a, b) -> (a * 31 + b) % 1000000007)) AS hs
  FROM documents),
v AS (
  SELECT doc_id,
         [CAST(COALESCE(list_sum(list_transform(hs,
              x -> CASE WHEN (x & 63) = i
                        THEN 1 - 2 * ((x >> 6) & 1) ELSE 0 END)), 0) AS BIGINT)
          FOR i IN range(0, 64)] AS vec
  FROM h)"""

FEATURE_HASH_EMBED_SQL = f"""
WITH {_HASHED_VEC_CTE}
SELECT doc_id,
       array_to_string(vec, ',') AS vec_str,
       CAST(list_sum(list_transform(vec, x -> x * x)) AS BIGINT) AS norm_sq,
       CAST(len(list_filter(vec, x -> x != 0)) AS BIGINT) AS nnz
FROM v
"""

HASHED_TOPK_SQL = f"""
WITH {_HASHED_VEC_CTE},
q AS (SELECT vec AS q_vec FROM v WHERE doc_id = 0),
sc AS (
  SELECT v.doc_id,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (vec[i] - q_vec[i]) * (vec[i] - q_vec[i]))) AS BIGINT)
           AS dist
  FROM v CROSS JOIN q WHERE v.doc_id != 0)
SELECT doc_id, dist,
       CAST(row_number() OVER (ORDER BY dist, doc_id) AS BIGINT) AS rank
FROM sc ORDER BY dist, doc_id LIMIT 10
"""


def hashed_ivf_topk(documents: DataFrame) -> DataFrame:
    """Hybrid text+vector search: ``feature_hash_vec`` text vectors
    through the IVF bucketed ANN path — the scale answer when exact
    ``hashed_topk`` (a full corpus scan per query) gets too expensive.
    Same inverted-file plan, cells and probes as ``similarity.ivf_topk``
    (shared ``_pivot_row``), but ALL-INTEGER: cell = argmin squared-L2
    to the pivot (first-min wins ties), so there is no float cosine
    anywhere and the whole hybrid chain is pinned by one hash oracle.

    Scale shape: the K-pivot row and the query's probe-cell list
    broadcast; cell assignment is a per-row JVM fold in the scan's own
    task (zero shuffle on vectors); only the ~probes/n_cells candidate
    slice reaches the exact distance rank, whose lone-rank filter plans
    the k-row TakeOrdered pre-reduce. Output (doc_id, dist, rank).

    The hashed-vector projection is computed ONCE and
    localCheckpoint'ed, and the pivot, assignment and query branches
    all read it (recomputing the corpus-wide scan+explode+partial-agg
    pipeline per branch cost 36 Exchanges). ``_pivot_row`` picks the K
    pivots from that projection, ranking its doc_ids by the shared
    ``_pivot_hash``. The checkpoint is (doc_id, 64 longs) per doc — the
    IVF index-build artifact, linear in corpus size, no text."""
    from .similarity import _IVF_CELLS, _IVF_PROBES, _pivot_row

    emb = feature_hash_vec(documents).localCheckpoint()
    prow = _pivot_row(
        emb.select(F.col("doc_id").alias("vec_id"),
                   F.col("vec").alias("embedding")), _IVF_CELLS)

    def dist_to(p_vec, vec=F.col("vec")):
        return F.aggregate(
            F.zip_with(vec, p_vec, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)

    scored = emb.crossJoin(F.broadcast(prow))
    ds = F.transform(F.col("pivots"), lambda p: dist_to(p["p_emb"]))
    cells = scored.select(
        "doc_id", "vec",
        (F.array_position(ds, F.array_min(ds)) - 1).cast("int").alias("cell"))
    # the query doc's _IVF_PROBES nearest cells by the SAME integer metric
    # (asc dist, pivot index tie-break), as a broadcast ≤probes-row side
    ranked = F.array_sort(F.transform(
        F.col("pivots"),
        lambda p, i: F.struct(dist_to(p["p_emb"]).alias("d"),
                              i.alias("idx"))))
    q_cells = (
        emb.where(F.col("doc_id") == _QUERY_DOC_ID)
        .crossJoin(F.broadcast(prow))
        .select(F.explode(F.transform(
            F.slice(ranked, 1, _IVF_PROBES),
            lambda s: s["idx"].cast("int"))).alias("q_cell")))
    cand = cells.join(F.broadcast(q_cells),
                      cells.cell == q_cells.q_cell, "left_semi")
    scored = _query_dists(emb, _QUERY_DOC_ID, candidates=cand)
    w = Window.orderBy(F.asc("dist"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TEXT_TOP_K)
        .select("doc_id", "dist", F.col("rank").cast("bigint").alias("rank"))
    )


HASHED_IVF_TOPK_SQL = f"""
WITH {_HASHED_VEC_CTE},
piv AS (
  SELECT row_number() OVER (
           ORDER BY (doc_id * 2654435761 + 40503) % 1000000007, doc_id)
           AS pid,
         vec AS p_vec
  FROM v QUALIFY pid <= 8),
plist AS (SELECT list(p_vec ORDER BY pid) AS pivots FROM piv),
assigned AS (
  SELECT doc_id, vec,
         list_transform(pivots, p ->
           list_sum(list_transform(range(1, 65),
                    i -> (vec[i] - p[i]) * (vec[i] - p[i])))) AS ds
  FROM v, plist),
cells AS (
  SELECT doc_id, vec, list_position(ds, list_min(ds)) - 1 AS cell
  FROM assigned),
qcells AS (
  SELECT u.gs.i - 1 AS q_cell
  FROM (SELECT unnest(list_sort(
                 [{{'d': ds[i], 'i': i}} FOR i IN range(1, len(ds) + 1)]
               )[1:2]) AS gs
        FROM assigned WHERE doc_id = 0) u),
q AS (SELECT vec AS q_vec FROM v WHERE doc_id = 0),
sc AS (
  SELECT c.doc_id,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (c.vec[i] - q_vec[i]) * (c.vec[i] - q_vec[i])))
           AS BIGINT) AS dist
  FROM cells c, q
  WHERE c.cell IN (SELECT q_cell FROM qcells) AND c.doc_id <> 0)
SELECT CAST(doc_id AS BIGINT) AS doc_id, dist,
       CAST(row_number() OVER (ORDER BY dist, doc_id) AS BIGINT) AS rank
FROM sc QUALIFY rank <= 10
"""


def mine_hard_negatives(documents: DataFrame) -> DataFrame:
    """Hard-negative mining for contrastive training: the k documents
    that SHARE the most vocabulary with the query doc (lexically
    confusable — the negatives a bi-encoder actually needs) while
    sitting OUTSIDE the near-duplicate radius in hashed-vector space
    (so true positives/dups never get labeled negative). Standard
    curation step for building retrieval/embedding training pairs.

    Signals, both exact integers: overlap = |distinct-token
    intersection| with the query doc (per-row array_intersect against
    the broadcast query token set — codegen, zero shuffle); dist =
    squared L2 between ``feature_hash_vec`` vectors. Keep docs with
    overlap >= 3 AND dist > ``_DUP_DIST``; rank by
    (overlap desc, dist asc, doc_id) — most confusable first.

    Scale shape: each signal reduces to one (doc_id, long) column in
    its own branch — overlap is a zero-shuffle scan projection
    against the broadcast query token set, dist rides the bounded
    partial-agg vector pipeline — and only those SLIM rows meet at
    the equi-join (shipping the token arrays and vectors through one
    fat join measured ~2x slower at sf0.1). The overlap >= threshold
    filter runs scan-side, pre-shrinking the join's left input; the
    global lone-rank filter plans the TakeOrderedAndProject k-row
    pre-reduce (same shape as ``hashed_topk``). Output
    (doc_id, overlap, dist, rank)."""
    base = documents.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.array_distinct(_clean_toks()).alias("toks"))
    q_toks = (base.where(F.col("doc_id") == _QUERY_DOC_ID)
              .select(F.col("toks").alias("q_toks")))
    overlaps = (
        base.where(F.col("doc_id") != _QUERY_DOC_ID)
        .crossJoin(F.broadcast(q_toks))
        .select("doc_id",
                F.size(F.array_intersect("toks", "q_toks"))
                .cast("bigint").alias("overlap"))
        .where(F.col("overlap") >= 3)
    )
    dists = _query_dists(feature_hash_vec(documents), _QUERY_DOC_ID) \
        .where(F.col("dist") > _DUP_DIST)
    scored = overlaps.join(dists, "doc_id")
    w = Window.orderBy(F.desc("overlap"), F.asc("dist"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TEXT_TOP_K)
        .select("doc_id", "overlap", "dist",
                F.col("rank").cast("bigint").alias("rank"))
    )


MINE_HARD_NEGATIVES_SQL = f"""
WITH {_HASHED_VEC_CTE},
t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_distinct(list_filter(string_split(lower(COALESCE(text, '')),
                                                ' '),
                                   tk -> len(tk) > 0)) AS toks
  FROM documents),
q AS (
  SELECT t.toks AS q_toks, v.vec AS q_vec
  FROM t JOIN v USING (doc_id) WHERE doc_id = 0),
sc AS (
  SELECT t.doc_id,
         CAST(len(list_intersect(t.toks, q_toks)) AS BIGINT) AS overlap,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (vec[i] - q_vec[i]) * (vec[i] - q_vec[i]))) AS BIGINT)
           AS dist
  FROM t JOIN v USING (doc_id) CROSS JOIN q
  WHERE t.doc_id != 0)
SELECT doc_id, overlap, dist,
       CAST(row_number() OVER (ORDER BY overlap DESC, dist, doc_id)
            AS BIGINT) AS rank
FROM sc
WHERE overlap >= 3 AND dist > 8
ORDER BY overlap DESC, dist, doc_id LIMIT 10
"""
