"""Error-path parity (`tests/test_errors.py` analog) + physical-plan
regression: pruning / partial-agg / broadcast shapes must not rot."""

import re

import pytest

from camelot_spark.config import make_config, validate_input


class TestErrorPaths:
    def test_unknown_flavor(self):
        """`camelot/io.py` raises NotImplementedError for bad flavor."""
        with pytest.raises(NotImplementedError, match="lattice.*stream|stream.*lattice|Unknown flavor"):
            make_config("bogus")

    def test_stream_rejects_lattice_kwargs(self):
        with pytest.raises(ValueError, match="cannot be used with flavor"):
            validate_input({"line_scale": 40}, flavor="stream")
        with pytest.raises(ValueError, match="copy_text"):
            make_config("stream", copy_text=["v"])

    def test_lattice_rejects_stream_kwargs(self):
        with pytest.raises(ValueError, match="row_tol"):
            make_config("lattice", row_tol=5)

    def test_areas_columns_length_mismatch(self):
        """`camelot/parsers/stream.py:72-74` equality check."""
        with pytest.raises(ValueError, match="table_areas and columns"):
            make_config("stream", table_areas=["0,0,10,10", "0,0,5,5"], columns=["1,2"])

    def test_job_kwarg_parsing(self):
        from jobs.extract_job import parse_kw

        kw = parse_kw(["row_tol=5", "split_text=true", "strip_text=.,",
                       "shift_text=l,t", "edge_tol=49.5"])
        assert kw == {"row_tol": 5, "split_text": True, "strip_text": ".,",
                      "shift_text": ["l", "t"], "edge_tol": 49.5}

    def test_export_bad_format(self):
        from camelot_spark import sinks

        with pytest.raises(ValueError, match="not supported"):
            sinks._FORMATS["csv"] and sinks.export(None, "/tmp/x", fmt="xlsx")


def _read_schema(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    return m.group(1) if m else ""


class TestPlanShapes:
    """Plan-quality regressions: these properties are what make the
    pipeline hold at 100 TB; a refactor that loses them must fail here."""

    def test_corpus_query_prunes_to_doc_id(self, spark):
        import __spark_entry__ as e

        df = e.queries()["extract_stream_corpus"](spark, "/root/testdata/sf0.001")
        assert _read_schema(df) == "struct<doc_id:bigint>"

    def test_dedup_prunes_columns(self, spark):
        import __spark_entry__ as e

        df = e.queries()["dedup_exact"](spark, "/root/testdata/sf0.001")
        schema = _read_schema(df)
        assert "text" in schema and "source" in schema and "lang" not in schema
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan  # map-side partial aggregation

    def test_inverted_index_no_unbounded_term_window(self, spark):
        """Round-5 restructure pin: exact df must come from a partial-agg
        groupBy and postings from a WindowGroupLimit-capped lone
        row_number — never a count-over-window on the raw term key,
        which would put a stop-word's whole posting set in one reducer
        (the round-4 verdict's #1 scale defect)."""
        import re

        import __spark_entry__ as e

        df = e.queries()["inverted_index"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan
        assert "HashAggregate" in plan  # partial-agg df branch
        for funcs in re.findall(r"\bWindow \[([^\]]*)\]", plan):
            assert "count(" not in funcs and "sum(" not in funcs, funcs

    def test_rank_windows_plan_group_limits(self, spark):
        """stratified_topk_sample and the KMV estimators are scale-safe
        only because Spark plans WindowGroupLimit under their per-group
        row_number — pin it so a refactor that loses the push-down
        (e.g. adding a second window function) fails here."""
        import __spark_entry__ as e

        qs = e.queries()
        for name in ("stratified_topk_sample", "kmv_distinct",
                     "kmv_distinct_partial"):
            df = qs[name](spark, "/root/testdata/sf0.001")
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "WindowGroupLimit" in plan, name

    def test_ann_broadcasts_query_vector(self, spark):
        import __spark_entry__ as e

        df = e.queries()["ann_topk"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # r7: the 1-row query rides in the MapInArrow task closure
        # (collected once, driver-bounded) instead of a broadcast
        # crossJoin; either shape attaches the query without shuffling
        # the corpus side
        assert ("MapInArrow" in plan or "BroadcastExchange" in plan
                or "BroadcastNestedLoopJoin" in plan)
        assert "SortMergeJoin" not in plan

    def test_simhash_signature_is_shuffle_free_at_scale(self, spark):
        """The signature computation itself must not explode tokens into
        a shuffle; the only allowed Exchange comes from the local
        small-file spread() (round-robin, no key)."""
        from camelot_spark.tdp.dedup import simhash64

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = simhash64(docs)._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" not in plan
        assert "Generate" not in plan  # no explode

    def test_normalize_and_scrub_are_shuffle_free(self, spark):
        """Normalization and PII scrubbing are pure regexp codegen on
        the scan — any Exchange/Generate is a plan regression."""
        from camelot_spark.tdp.text import normalize_text, scrub_pii

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        for fn in (normalize_text, scrub_pii):
            plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan and "Generate" not in plan, fn.__name__

    def test_decontaminate_broadcasts_benchmark(self, spark):
        """The benchmark n-gram set must broadcast; the corpus side must
        not explode its n-grams into a join/shuffle (the 100 TB shape:
        one array_intersect per row on the scan)."""
        from camelot_spark.tdp.contamination import decontaminate

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = decontaminate(docs)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_fingerprint_is_shuffle_free(self, spark):
        """fingerprint must be a per-row array fold: no explode
        (Generate), no groupBy (HashAggregate), no Exchange at all —
        the posexplode+groupBy form would ship one shuffle row per
        token (the tokenized corpus) at 100 TB."""
        from camelot_spark.tdp.text import fingerprint

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = fingerprint(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Generate" not in plan
        assert "HashAggregate" not in plan
        assert "Exchange" not in plan


class TestTdpReferenceEquivalence:
    """New training-data operators vs direct Python references on a
    seeded random corpus — guards the array-algebra formulations
    independently of the DuckDB oracles."""

    @staticmethod
    def _corpus(spark, n=60, seed=11):
        import random

        rng = random.Random(seed)
        vocab = ["alpha", "beta", "gamma", "delta", "x", "yy", "zzz", "data", "the"]
        rows = []
        for i in range(n):
            toks = [rng.choice(vocab) for _ in range(rng.randint(1, 140))]
            rows.append((i, " ".join(toks), "s%d" % (i % 3)))
        return rows, spark.createDataFrame(rows, "doc_id: long, text: string, source: string")

    def test_chunk_documents_matches_reference(self, spark):
        from camelot_spark.tdp.packing import chunk_documents

        rows, df = self._corpus(spark)
        got = {(r["doc_id"], r["chunk_idx"]):
               (r["n_chunk_tokens"], r["first_token"], r["last_token"])
               for r in chunk_documents(df).collect()}
        want = {}
        for doc_id, text, _ in rows:
            toks = text.split(" ")
            for idx, s in enumerate(range(0, len(toks), 48)):
                ck = toks[s:s + 64]
                want[(doc_id, idx)] = (len(ck), ck[0], ck[-1])
        assert got == want

    def test_pack_sequences_matches_reference(self, spark):
        from camelot_spark.tdp.packing import pack_sequences

        rows, df = self._corpus(spark)
        got = {r["doc_id"]: (r["seq_id"], r["seq_offset"], r["n_tokens"])
               for r in pack_sequences(df).collect()}
        by_shard: dict = {}
        for doc_id, text, src in sorted(rows):
            n = len(text.split(" "))
            cum = by_shard.get((src, doc_id // 128), 0)
            assert got[doc_id] == (cum // 512, cum % 512, n), doc_id
            by_shard[(src, doc_id // 128)] = cum + n
        # reconstruction invariant: seq_id*512 + offset == tokens before
        assert all(s * 512 + o >= 0 for s, o, _ in got.values())

    def test_repetition_stats_matches_reference(self, spark):
        import math

        from camelot_spark.tdp.text import repetition_stats

        rows, df = self._corpus(spark)
        got = {r["doc_id"]: (r["dup_word_x10k"], r["top_word_x10k"], r["dup_bigram_x10k"])
               for r in repetition_stats(df).collect()}
        for doc_id, text, _ in rows:
            toks = text.split(" ")
            n = float(len(toks))
            dup = math.floor((n - len(set(toks))) / n * 10000)
            top = math.floor(max(toks.count(w) for w in set(toks)) / n * 10000)
            grams = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
            dbg = math.floor((len(grams) - len(set(grams))) / len(grams) * 10000) if grams else 0
            assert got[doc_id] == (dup, top, dbg), doc_id

    def test_quantize_matches_reference(self, spark):
        import math

        from camelot_spark.tdp.similarity import quantize_embeddings

        emb = _cluster_embeddings(spark, n_clusters=4, per_cluster=5, dim=16)
        vecs = {r["vec_id"]: [float(v) for v in r["embedding"]] for r in emb.collect()}
        got = {r["vec_id"]: (r["q_sum"], r["q_first"], r["err_x1e6"])
               for r in quantize_embeddings(emb).collect()}
        for vid, xs in vecs.items():
            lo, hi = min(xs), max(xs)
            rng = hi - lo
            qs = [min(math.floor((v - lo) / rng * 255), 255) if rng > 0 else 0 for v in xs]
            err = 0.0
            for v, q in zip(xs, qs):  # left fold, matching F.aggregate
                err += abs(v - (lo + q / 255.0 * rng))
            assert got[vid] == (sum(qs), qs[0], math.floor(err * 1e6)), vid


def _cluster_embeddings(spark, n_clusters=15, per_cluster=20, dim=16, seed=7):
    """Clustered corpus: every member of a cluster is a tiny jitter off
    the cluster base direction, so all real near-dup pairs are
    within-cluster."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    vid = 0
    for _ in range(n_clusters):
        base = rng.normal(size=dim)
        for _ in range(per_cluster):
            v = base + rng.normal(scale=1e-3, size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")


class TestLshCandidateBounds:
    """The scale contract of the bucketed near-dup paths: candidate
    counts stay far below n² on clustered corpora, and the bucket cap
    bounds the degenerate hot-bucket case."""

    def test_minhash_signatures_vary_across_seeds(self, spark):
        """Regression for the HOF lambda-default trap: Spark binds every
        lambda parameter to a Column, so a seed passed as `k=k` silently
        became the array index and all K minhash entries collapsed to
        one hash. The K entries of a signature must differ."""
        from camelot_spark.tdp.dedup import minhash_signatures

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(5)
        for portable in (False, True):
            rows = minhash_signatures(docs, portable=portable).collect()
            assert all(len(set(r["sig"])) > 8 for r in rows), portable

    def test_embedding_candidates_far_below_all_pairs(self, spark):
        from camelot_spark.tdp.similarity import neardup_candidates

        emb = _cluster_embeddings(spark)
        n = emb.count()
        all_pairs = n * (n - 1) // 2
        within = 15 * (20 * 19 // 2)  # real near-dup pairs
        cands = neardup_candidates(emb).count()
        # recall: coherent clusters share whole signatures, so nearly all
        # within-cluster pairs must surface as candidates
        assert cands >= within * 0.9
        # precision/scale: nowhere near all-pairs (4-bit chunks gave ~n²/16)
        assert cands < 0.2 * all_pairs

    def test_embedding_bucket_cap_bounds_hot_buckets(self, spark, monkeypatch):
        from camelot_spark.tdp import similarity
        from camelot_spark.tdp.similarity import neardup_candidates

        emb = _cluster_embeddings(spark)
        # the product cap (10000) never binds on 300 vectors
        uncapped = neardup_candidates(emb).count()
        monkeypatch.setattr(similarity, "_NEARDUP_BUCKET_CAP", 10)
        capped = neardup_candidates(emb).count()
        # clusters of 20 exceed the cap of 10 on every coherent band, so
        # their quadratic buckets are dropped entirely
        assert capped < uncapped
        assert capped < emb.count()

    def test_ivf_data_pivots_recall_and_pruning(self, spark):
        """Data-derived pivots + multi-probe: on a clustered corpus the
        query's cluster lands in the probed cells, so IVF top-10 equals
        brute-force top-10 (recall@10 = 1.0) while scoring only a
        fraction of the corpus (the axis-mask pivots this replaced gave
        skewed 8-way cells that could split true neighbors away)."""
        from camelot_spark.tdp.similarity import cosine_topk, ivf_assign, ivf_topk

        emb = _cluster_embeddings(spark, n_clusters=10, per_cluster=20, dim=16)
        truth = {r["vec_id"] for r in cosine_topk(emb).collect()}
        got = {r["vec_id"] for r in ivf_topk(emb).collect()}
        assert got == truth  # recall@10 = 1.0 vs brute force
        # pruning is real: no probed pair of cells holds the whole corpus
        sizes = sorted(
            r["count"] for r in ivf_assign(emb).groupBy("ivf_cell").count().collect()
        )
        assert sum(sizes[-2:]) < emb.count()

    def test_simhash_cap_bounds_duplicate_heavy_corpus(self, spark, monkeypatch):
        from camelot_spark.tdp import dedup
        from camelot_spark.tdp.dedup import simhash_near_dups

        # 30% exact duplicates: 60 of 200 docs share one text => one
        # simhash => hot buckets of 60 on all four chunks
        dup = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(i, dup if i < 60 else f"unique document number {i} with words {i * 7} {i * 13}")
                for i in range(200)]
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        # the product cap (10000) never binds on 200 docs
        uncapped = simhash_near_dups(docs).count()
        monkeypatch.setattr(dedup, "_SIMHASH_BUCKET_CAP", 20)
        capped = simhash_near_dups(docs).count()
        assert uncapped >= 60 * 59 // 2  # the duplicate block is all-pairs
        assert capped < uncapped
        assert capped <= 200  # hot buckets dropped => bounded output
