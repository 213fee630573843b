"""Deterministic sampling / corpus-mixing operators: acceptance is
integer hash math (reproducible on any cluster layout), plans stay
shuffle-free where the operator allows it."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from camelot_spark.tdp import sampling


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, "doc %d" % i, ["en", "fr", "de", "es"][i % 4],
             "src%d" % (i % 5), 10 + (i * 37) % 900)
            for i in range(400)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_stratified_sample_is_pure_filter(docs):
    out = sampling.stratified_sample(docs, rates={"en": 250000, "fr": 0})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero shuffle: scan + filter only
    rows = out.collect()
    langs = {r["lang"] for r in rows}
    assert "fr" not in langs           # rate 0: dropped entirely
    assert {"de", "es"} <= langs       # default ppm: kept whole
    n_en = sum(1 for r in rows if r["lang"] == "en")
    assert 0 < n_en < 100              # ~25% of the 100 en docs


def test_stratified_sample_deterministic_and_partition_invariant(docs):
    a = {r["doc_id"] for r in sampling.stratified_sample(
        docs, rates={"en": 300000}).collect()}
    b = {r["doc_id"] for r in sampling.stratified_sample(
        docs.repartition(13), rates={"en": 300000}).collect()}
    assert a == b and len(a) > 0


def test_corpus_mix_hits_targets_and_caps_small_strata(spark, monkeypatch):
    # 1000 en docs, 20 de docs; mix 50/50 toward a 200-doc sample:
    # en accepts ~10%, de (quota 100 > 20 docs) is kept WHOLE
    monkeypatch.setattr(sampling, "_MIX_TARGETS", {"en": 500000, "de": 500000})
    rows = [(i, "t", "en", "s", 5) for i in range(1000)]
    rows += [(10_000 + i, "t", "de", "s", 5) for i in range(20)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = sampling.corpus_mix(docs)
    got = out.collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang["de"]) == 20                    # capped at 100%
    assert all(r["accept_ppm"] == 1000000 for r in by_lang["de"])
    assert 60 <= len(by_lang["en"]) <= 140             # ~100 of 1000
    # the rate side is broadcast: the corpus never shuffles
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_stratified_topk_exactly_k_per_stratum(docs, monkeypatch):
    monkeypatch.setattr(sampling, "_TOPK_PER_STRATUM", 7)
    out = sampling.stratified_topk_sample(docs).collect()
    per = {}
    for r in out:
        per.setdefault(r["lang"], set()).add(r["sample_rank"])
    assert set(per) == {"en", "fr", "de", "es"}
    assert all(ranks == set(range(1, 8)) for ranks in per.values())
    # deterministic: same ids on re-run
    again = sampling.stratified_topk_sample(docs).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_length_histogram_bucket_math(spark):
    docs = spark.createDataFrame(
        [(1, "a", "en", "s", 0), (2, "b", "en", "s", 1),
         (3, "c", "en", "s", 1023), (4, "d", "en", "s", 1024)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["len_bucket"]: r for r in sampling.length_histogram(docs).collect()}
    # n_chars=0 -> bin(1) -> bucket 0; 1 -> bucket 1; 1023 -> bucket 10
    # (1024 = 2^10) and 1024 -> bucket 10 (1025 still < 2^11)
    assert out[0]["docs"] == 1 and out[1]["docs"] == 1
    assert out[10]["docs"] == 2 and out[10]["chars"] == 1023 + 1024


def test_span_stats_contract_checks(spark):
    """span_stats flags order gaps and missing media refs, and its plan
    is one scan-local stage (no Exchange)."""
    from camelot_spark import sinks

    rows = [
        ("ok", [("cell", "ab", None, 0), ("prose", "xyz", None, 1),
                ("media", None, "m://1", 2)]),
        ("gap", [("cell", "a", None, 0), ("cell", "b", None, 2)]),
        ("noref", [("media", None, None, 0)]),
        ("empty", []),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, `order` int>>")
    out = {r["doc_id"]: r for r in sinks.span_stats(df).collect()}
    ok = out["ok"]
    assert (ok["n_spans"], ok["n_cells"], ok["n_prose"], ok["n_media"]) == (3, 1, 1, 1)
    assert (ok["cell_chars"], ok["prose_chars"]) == (2, 3)
    assert ok["order_contiguous"] == 1 and ok["media_refs_ok"] == 1
    assert out["gap"]["order_contiguous"] == 0
    assert out["noref"]["media_refs_ok"] == 0
    assert out["empty"]["order_contiguous"] == 1 and out["empty"]["n_spans"] == 0
    plan = sinks.span_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bm25_ranking_semantics(spark):
    """Integer BM25: a doc dense in a rare query term outranks docs
    with common terms; tf saturates (10x repetitions do not give 10x
    score); postings index is exact."""
    from camelot_spark.tdp.ranking import bm25_topk, inverted_index

    rows = [
        (1, "zebra zebra zebra filler words here"),      # rare term, dense
        (2, "common common words and more filler text"),  # frequent term
        (3, "common words here"),
        (4, "zebra appears once amid many many many many filler words"),
        (5, "nothing relevant at all"),
    ] + [(10 + i, "common filler words again %d" % i) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    top = bm25_topk(docs, ["zebra", "common"]).collect()
    ranked = [r["doc_id"] for r in top]
    assert ranked[0] == 1                      # rare+dense wins
    assert 4 in ranked[:3]                     # rare term beats common
    scores = {r["doc_id"]: r["score_micro"] for r in top}
    assert scores[1] < 3 * scores[4] * 3       # saturation sanity

    idx = {r["term"]: r for r in inverted_index(docs).collect()}
    assert idx["zebra"]["df"] == 2
    assert idx["zebra"]["postings"] == "1,4"
    assert idx["common"]["df"] == 12


def test_inverted_index_caps_hot_postings(spark, monkeypatch):
    from camelot_spark.tdp import ranking
    from camelot_spark.tdp.ranking import inverted_index

    docs = spark.createDataFrame(
        [(i, "hot term everywhere") for i in range(50)],
        "doc_id long, text string")
    monkeypatch.setattr(ranking, "_MAX_POSTINGS", 8)  # the product's 20 lists 0..19
    row = {r["term"]: r for r in inverted_index(docs).collect()}
    assert row["hot"]["df"] == 50                       # exact count
    assert row["hot"]["postings"] == "0,1,2,3,4,5,6,7"  # bounded list


def test_histogram_quantiles_accuracy_and_merge_shape(spark):
    """The histogram sketch estimates quantiles within one log2-bucket
    of the exact value, and the plan's only corpus shuffle is the
    (source, bucket) partial aggregate."""
    import numpy as np

    from camelot_spark.tdp.relational import histogram_quantiles

    rng = np.random.RandomState(7)
    vals = rng.lognormal(5, 1, size=4000).astype(int) + 1
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", int(v)) for i, v in enumerate(vals)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["q_ppm"]: r["est_x1000"] / 1000.0
           for r in histogram_quantiles(docs).collect()}
    for q_ppm, q in ((500_000, 50), (900_000, 90), (990_000, 99)):
        exact = float(np.percentile(vals, q, method="inverted_cdf"))
        est = out[q_ppm]
        # within the bucket's resolution: [2^b-1, 2^(b+1)-1) around exact
        assert exact / 2.2 <= est <= exact * 2.2, (q, est, exact)
    # monotone in q
    assert out[500_000] <= out[900_000] <= out[990_000]


def test_event_props_json_extraction(spark):
    """JSON props stay JVM-side (get_json_object in codegen): values
    aggregate correctly and malformed/missing keys count as missing."""
    from camelot_spark.tdp.relational import event_props_stats

    rows = [(1, "click", '{"k": 10}'), (2, "click", '{"k": 5}'),
            (3, "click", '{"other": 1}'), (4, "view", "not json"),
            (5, "view", '{"k": 7}')]
    df = spark.createDataFrame(rows, "event_id long, event_type string, props string")
    out = {r["event_type"]: r for r in event_props_stats(df).collect()}
    assert (out["click"]["n_events"], out["click"]["k_sum"],
            out["click"]["k_max"], out["click"]["k_missing"]) == (3, 15, 10, 1)
    assert (out["view"]["k_sum"], out["view"]["k_missing"]) == (7, 1)
    plan = event_props_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "pythonUDF" not in plan  # stays in codegen


def test_rank_weighted_sample_prefers_high_rank(spark):
    """Acceptance scales with rank: rank 1e6 docs are always kept
    (accept=100%), rank-0 docs never, and the kept set is exactly the
    hash-threshold set (deterministic, repartition-invariant)."""
    from camelot_spark.tdp.ranking import link_rank  # noqa: F401 (family)
    from camelot_spark.tdp.sampling import _PPM, _accept_ppm_hash, rank_weighted_sample

    docs = spark.createDataFrame(
        [(i, "en", "web", 100) for i in range(200)],
        "doc_id long, lang string, source string, n_chars long")
    ranks = spark.createDataFrame(
        [(i, 1_000_000 if i % 2 == 0 else 0) for i in range(150)],
        "doc_id long, rank_ppm long")
    kept = {r["doc_id"]: r["rank_ppm"]
            for r in rank_weighted_sample(docs, ranks).collect()}
    evens = {i for i in range(150) if i % 2 == 0}
    assert evens <= set(kept)                      # 100% acceptance
    assert all(k not in kept for k in range(150) if k % 2 == 1)  # 0%
    # unranked docs (150..199) fall back to base_ppm * mult = 30%
    unranked_kept = [k for k in kept if k >= 150]
    assert 0 < len(unranked_kept) < 50
    assert all(kept[k] == 150_000 for k in unranked_kept)
    # determinism under different partitioning
    kept2 = {r["doc_id"] for r in rank_weighted_sample(
        docs.repartition(7), ranks.repartition(3)).collect()}
    assert kept2 == set(kept)


def test_dataset_split_stable_and_leak_free(docs, spark):
    """Growth stability: a doc's split never changes when the corpus
    grows (pure function of the id). Leakage control: splitting on a
    dedup-canonical id puts every cluster member in one split. Plus
    zero-shuffle plan and rough proportion sanity."""
    out = sampling.dataset_split(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan            # pure projection
    full = {r["doc_id"]: r["split"] for r in out.collect()}
    assert set(full.values()) == {"train", "val", "test"}
    n = len(full)
    n_train = sum(1 for v in full.values() if v == "train")
    assert 0.7 * n < n_train < 0.9 * n       # ~80% train
    # growth stability: the split of a 100-doc prefix corpus is the
    # restriction of the 400-doc corpus's split
    sub = {r["doc_id"]: r["split"] for r in sampling.dataset_split(
        docs.where(F.col("doc_id") < 100)).collect()}
    assert sub == {k: v for k, v in full.items() if k < 100}
    # leakage control: split_expr over the cluster-canonical id => all
    # members of a duplicate cluster share a split
    clustered = docs.withColumn("canon_id", (F.col("doc_id") / 10).cast("long"))
    by_cluster = {}
    for r in clustered.select(
            "canon_id", sampling.split_expr("canon_id").alias("split")).collect():
        by_cluster.setdefault(r["canon_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
