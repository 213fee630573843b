"""Round-7 optimization equivalence tests.

Each optimization this round restructures an operator's internals
without changing what it computes; these tests pin the new fast path
against a straightforward reference implementation on randomized
inputs (the goldens pin the fixture corpus separately).
"""
from __future__ import annotations

import numpy as np
import pytest

from camelot_spark.kernels import raster as rk


def _random_mask(rng, h, w, p):
    return rng.random((h, w)) < p


class TestRunBasedCC:
    def test_transposed_components_match_untransposed(self):
        """_components_from_runs_transposed(runs of m.T) must equal
        connected_components(m) exactly, including output ORDER."""
        rng = np.random.default_rng(7)
        for trial in range(60):
            h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
            m = _random_mask(rng, h, w, float(rng.uniform(0.05, 0.6)))
            want = rk.connected_components(m)
            runs_t = rk._runs_along_rows(m.T)
            got = rk._components_from_runs_transposed(*runs_t)
            assert got == want, f"trial {trial} shape {(h, w)}"

    def test_open_runs_equal_mask_runs(self):
        """The open's kept runs must be exactly the rebuilt mask's
        runs (the premise of skipping the re-scan)."""
        rng = np.random.default_rng(11)
        for _ in range(40):
            h, w = int(rng.integers(2, 50)), int(rng.integers(2, 50))
            m = _random_mask(rng, h, w, 0.5)
            size = int(rng.integers(1, 8))
            runs = rk._open_runs(m, size)
            rebuilt = rk._mask_from_runs(*runs, m.shape)
            re_runs = rk._runs_along_rows(rebuilt.astype(bool))
            for a, b in zip(runs, re_runs):
                assert np.array_equal(a, b)

    def test_find_lines_both_directions_match_maskwalk_cc(self):
        """find_lines' run-reuse fast path must produce the identical
        (mask, lines) the old CC(dmask) mask walk produced — including
        line order — for both directions."""
        rng = np.random.default_rng(23)
        for _ in range(25):
            h, w = int(rng.integers(20, 80)), int(rng.integers(20, 80))
            m = _random_mask(rng, h, w, 0.45)
            for direction, axis in (("vertical", 0), ("horizontal", 1)):
                scale = int(rng.integers(2, 15))
                dmask, lines = rk.find_lines(m, None, direction, scale, 0)
                # reference: mask-walk CC over the rebuilt mask
                ref_rects = rk.connected_components(dmask.astype(bool))
                ref_lines = []
                for (x, y, ww, hh) in ref_rects:
                    x1, x2, y1, y2 = x, x + ww, y, y + hh
                    if direction == "vertical":
                        ref_lines.append(((x1 + x2) // 2, y2, (x1 + x2) // 2, y1))
                    else:
                        ref_lines.append((x1, (y1 + y2) // 2, x2, (y1 + y2) // 2))
                assert lines == ref_lines
                # and the mask equals the plain open
                size = (h // scale) if axis == 0 else (w // scale)
                ref_mask = rk._open_along_axis(m, size, axis)
                assert np.array_equal(dmask, ref_mask)

    def test_adjacency_pairgen_matches_per_row_reference(self):
        """Vectorized composite-key pair generation vs a per-row
        two-pointer reference on random run sets."""
        rng = np.random.default_rng(41)
        for _ in range(40):
            h, w = int(rng.integers(1, 30)), int(rng.integers(4, 60))
            m = _random_mask(rng, h, w, float(rng.uniform(0.1, 0.7)))
            rows, starts, ends = rk._runs_along_rows(m)
            roots = rk._run_adjacency_roots(rows, starts, ends)
            # reference pairs: brute double loop over run pairs
            ref_parent = list(range(len(rows)))

            def find(p, a):
                while p[a] != a:
                    a = p[a]
                return a

            for i in range(len(rows)):
                for j in range(len(rows)):
                    if rows[j] == rows[i] + 1 and starts[i] <= ends[j] \
                            and ends[i] >= starts[j]:
                        ra, rb = find(ref_parent, i), find(ref_parent, j)
                        if ra != rb:
                            ref_parent[rb] = ra
            ref_roots = [find(ref_parent, i) for i in range(len(rows))]
            # same partition (root labels may differ)
            seen = {}
            for a, b in zip(roots.tolist(), ref_roots):
                assert seen.setdefault(a, b) == b


def test_simhash64_swar_matches_per_bit_fold(spark):
    """r7 SWAR simhash64 == the per-bit ±1 fold reference on edge and
    random docs (empty text, lone spaces, unicode, NULL, repeated
    tokens — the majority-tie cases)."""
    import random

    from pyspark.sql import functions as F

    from camelot_spark.tdp import dedup
    from camelot_spark.tdp.dedup import _prod_simhash_token_hash

    def reference(documents):
        hashes = F.transform(F.split("text", " "),
                             lambda w: _prod_simhash_token_hash(w))

        def bits_of(h):
            return F.array(*[
                F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1))
                       != F.lit(0), F.lit(1))
                .otherwise(F.lit(-1)).cast("long") for b in range(64)])

        counters = F.aggregate(
            hashes, F.array_repeat(F.lit(0).cast("long"), 64),
            lambda acc, h: F.zip_with(acc, bits_of(h), lambda x, y: x + y))
        weights = [(-(1 << 63) if b == 63 else 1 << b) for b in range(64)]
        sim = F.aggregate(
            F.zip_with(counters,
                       F.array(*[F.lit(w).cast("long") for w in weights]),
                       lambda cnt, w: F.when(cnt > 0, w)
                       .otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        return documents.select(
            "doc_id", sim.cast("bigint").alias("simhash"))

    random.seed(13)
    words = ["alpha", "beta", "café", "漢字", "x", "", "the", "of"]
    rows = [(0, ""), (1, " "), (2, "  "), (3, None), (4, "one"),
            (5, "a a a b b")]
    for i in range(6, 40):
        rows.append((i, " ".join(random.choice(words)
                                 for _ in range(random.randrange(1, 60)))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash64(df).collect()}
    want = {r["doc_id"]: r["simhash"] for r in reference(df).collect()}
    assert got == want


def test_lsh_plane_weights_built_once_read_only():
    """Repeat calls return the one cached table, which no caller can
    modify in place."""
    from camelot_spark.tdp.similarity import _lsh_plane_weights

    w = _lsh_plane_weights(7, 16)
    assert _lsh_plane_weights(7, 16) is w
    assert w.shape == (7, 16) and not w.flags.writeable
    with pytest.raises(ValueError):
        w[0, 0] = 1.0


def test_lsh_signatures_numpy_matches_expression(spark):
    """r7 mapInArrow lsh_signatures == the per-plane aggregate-fold
    expression reference, bit-for-bit, on edge vectors (NULL, empty,
    sign-boundary components) and random float vectors at 16 and 32
    planes (the two widths in use)."""
    import random

    from pyspark.sql import functions as F

    from camelot_spark.tdp import similarity as sim

    def reference(embeddings, n_planes):
        dim_idx = F.transform(F.col("embedding"), lambda x, i: i)

        def plane_component(i, b):
            mixed = (i * 2654435761 + F.lit(b * 40503 + 12345)) % 7
            return (mixed - 3).cast("double")

        def _weighted(b):
            return lambda x, i: x.cast("double") * plane_component(i, b)

        sig = None
        for b in range(n_planes):
            proj = F.aggregate(
                F.zip_with(F.col("embedding"), dim_idx, _weighted(b)),
                F.lit(0.0), lambda acc, x: acc + x)
            bit = F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
        return embeddings.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            sig.cast("bigint").alias("lsh_sig"))

    random.seed(29)
    rows = [(0, None), (1, []), (2, [0.0] * 8), (3, [1e-30] * 8),
            (4, [-1.5, 2.5, 0.0, 3.0])]
    for i in range(5, 60):
        dim = random.choice([4, 64])
        rows.append((i, [random.uniform(-2, 2) for _ in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for planes in (16, 32):
        got = sorted(sim.lsh_signatures(df, planes).collect())
        want = sorted(reference(df, planes).collect())
        assert got == want, f"planes={planes}"


def test_assign_with_embedding_numpy_matches_expression(spark):
    """r7 mapInArrow _assign_with_embedding == the broadcast-pivot
    expression reference (transform + array_max + array_position),
    incl. NULL embeddings (NULL cell), all-zero vectors (all-NaN
    scores -> first pivot, Spark's NaN-largest max), and ties."""
    import random

    from pyspark.sql import functions as F

    from camelot_spark.tdp import similarity as sim

    def reference(embeddings, n_cells, with_cos=False):
        prow = sim._pivot_row(embeddings, n_cells)
        scored = embeddings.crossJoin(F.broadcast(prow))
        scores = F.transform(F.col("pivots"),
                             lambda p: sim._cos_to(p["p_emb"]))
        best = F.array_max(scores)
        cell = F.array_position(scores, best) - 1
        cols = [F.col("vec_id").cast("bigint").alias("vec_id"),
                cell.cast("int").alias("ivf_cell")]
        if with_cos:
            cols.append(best.alias("cos"))
        return scored.select(*cols)

    random.seed(31)
    # NOTE: no zero-norm vectors here — the OLD expression path
    # (reference) throws ANSI DIVIDE_BY_ZERO on them, so equivalence
    # is only defined where the old code returned at all; the numpy
    # path's zero-vector behavior is asserted separately below.
    rows = [(0, None), (2, [1.0] + [0.0] * 15), (3, [-1.0] * 16)]
    for i in range(4, 80):
        rows.append((i, [random.uniform(-2, 2) for _ in range(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for n_cells, with_cos in ((4, False), (8, True)):
        got = sim._assign_with_embedding(df, n_cells, with_cos=with_cos) \
            .drop("embedding").collect()
        want = reference(df, n_cells, with_cos=with_cos).collect()
        gk = sorted((tuple(r) for r in got))
        wk = sorted((tuple(r) for r in want))
        assert gk == wk, f"n_cells={n_cells} with_cos={with_cos}"

    # zero-norm vector: all scores NaN -> numpy argmax picks the first
    # pivot (Spark's NaN-largest array_max + first-position semantics);
    # the old expression path crashed under ANSI here, so this is the
    # one place the numpy path is MORE defined, never different
    zdf = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [0.0] * 8), (2, [2.0] * 8)],
        "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["ivf_cell"]
           for r in sim._assign_with_embedding(zdf, 2).collect()}
    assert out[1] is not None


def test_cosine_topk_numpy_matches_expression(spark, monkeypatch):
    """r7 numpy-scored cosine_topk == the broadcast-crossJoin
    expression reference (incl. NULL embeddings and missing query)."""
    import random

    from pyspark.sql import functions as F

    from camelot_spark.tdp import similarity as sim

    def reference(embeddings, query_vec_id=0, k=10):
        q = embeddings.where(F.col("vec_id") == query_vec_id).select(
            F.col("embedding").alias("q_emb"))
        scored = (
            embeddings.where(F.col("vec_id") != query_vec_id)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                (sim._dot(F.col("embedding"), F.col("q_emb"))
                 / (sim._norm(F.col("embedding"))
                    * sim._norm(F.col("q_emb")))).alias("cos")))
        from pyspark.sql import Window
        w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
        return (scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(F.col("vec_id").cast("bigint").alias("vec_id"),
                        F.col("rank").cast("bigint").alias("rank")))

    random.seed(37)
    rows = [(0, [1.0, 2.0, -1.0, 0.5]), (1, None)]
    for i in range(2, 60):
        rows.append((i, [random.uniform(-2, 2) for _ in range(4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(map(tuple, sim.cosine_topk(df).collect()))
    want = sorted(map(tuple, reference(df, 0, 10).collect()))
    assert got == want
    # missing query id -> empty, like the old empty crossJoin
    monkeypatch.setattr(sim, "_QUERY_VEC_ID", 10_000)
    assert sim.cosine_topk(df).count() == 0


def test_feature_hash_vec_arrow_matches_explode_agg(spark):
    """r7 mapInArrow feature_hash_vec == the explode_outer + two-pass
    groupBy reference, incl. NULL text, NULL/duplicate doc_ids,
    unicode and >8-char tokens."""
    import random

    from pyspark.sql import functions as F

    from camelot_spark.tdp import text as tdp_text
    from camelot_spark.tdp.text import (_clean_toks, portable_token_hash)

    def reference(documents, dim=64):
        sign_bit = dim.bit_length() - 1
        toks = _clean_toks()
        h = portable_token_hash(F.col("tok"))
        sign = (F.lit(1)
                - F.shiftright(h, sign_bit).bitwiseAND(F.lit(1)) * F.lit(2))
        per_bucket = (
            documents.select(
                F.col("doc_id").cast("bigint").alias("doc_id"),
                F.explode_outer(toks).alias("tok"))
            .select(
                "doc_id",
                F.coalesce(h.bitwiseAND(F.lit(dim - 1)).cast("int"),
                           F.lit(0)).alias("bucket"),
                F.coalesce(sign.cast("long"),
                           F.lit(0).cast("long")).alias("s"))
            .groupBy("doc_id", "bucket").agg(F.sum("s").alias("w")))
        maps = per_bucket.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "w"))).alias("m"))
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")),
                                 F.lit(0).cast("long")))
        return maps.select("doc_id", vec.alias("vec"))

    random.seed(41)
    words = ["alpha", "beta", "café", "漢字teststring",
             "LongerThanEightChars", "x", "the"]
    rows = [(None, "dup pool a"), (None, "dup pool b"),
            (7, "first half"), (7, "second half"),
            (1, None), (2, ""), (3, "   ")]
    for i in range(10, 50):
        rows.append((i, " ".join(random.choice(words)
                                 for _ in range(random.randrange(0, 40)))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["vec"]
           for r in tdp_text.feature_hash_vec(df).collect()}
    want = {r["doc_id"]: r["vec"] for r in reference(df).collect()}
    assert got == want


def test_pq_codes_numpy_matches_expression(spark):
    """r7 numpy PQ encode == the old broadcast-expression stage
    (slices, zip-pad NULL kill, NULL-skipping argmin), incl. ragged
    and NULL embeddings."""
    import random

    from pyspark.sql import functions as F

    from camelot_spark.tdp import similarity as sim

    def reference(embeddings, m=8, dsub=8, ks=16):
        prow = sim._pivot_row(embeddings, ks)
        base = embeddings.crossJoin(F.broadcast(prow)).select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.transform("embedding", lambda v: v.cast("double")).alias("xs"),
            "pivots")
        dd = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.transform(
                F.col("pivots"),
                lambda p: sim._sqdist(
                    F.slice(F.col("xs"), j * dsub + 1, dsub),
                    F.slice(p["p_emb"], j * dsub + 1, dsub))))
        staged = base.select("vec_id", dd.alias("dd"))
        codes = F.transform(
            "dd", lambda d: F.array_position(d, F.array_min(d)) - 1)
        return staged.select("vec_id", codes.alias("codes"))

    random.seed(43)
    rows = [(0, None), (1, [0.5] * 30)]  # NULL + ragged
    for i in range(2, 50):
        rows.append((i, [random.uniform(-2, 2) for _ in range(64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["codes"]
           for r in sim._pq_staged_np(df).collect()}
    want = {r["vec_id"]: r["codes"] for r in reference(df).collect()}
    assert got == want


class TestSeparableHalo:
    def test_halo_matches_full_square_dilation(self):
        """decode_bitmap's separable ±3 halo == the full 7×7 shift-OR."""
        rng = np.random.default_rng(3)
        for _ in range(20):
            h, w = int(rng.integers(8, 64)), int(rng.integers(8, 64))
            mask = _random_mask(rng, h, w, 0.1)
            payload = rk.encode_bitmap(mask)
            payload["noise_amp"] = 50
            payload["noise_seed"] = int(rng.integers(0, 1 << 31))
            img = rk.decode_bitmap(payload)
            # reference: full 7x7 OR halo, then the same noise math
            pad = 3
            pm = np.pad(mask, pad)
            halo = np.zeros_like(mask)
            for dr in range(-pad, pad + 1):
                for dc in range(-pad, pad + 1):
                    halo |= pm[pad + dr:pad + dr + h, pad + dc:pad + dc + w]
            rng2 = np.random.default_rng(payload["noise_seed"])
            noise = rng2.integers(0, 51, size=(h, w)).astype(np.int16)
            ref = np.full((h, w), 255, dtype=np.uint8)
            ref[mask] = 0
            out = ref.astype(np.int16)
            out[~halo] += 1 * noise[~halo] * -1  # fg(0) < bg(255): sign = -1
            ref = np.clip(out, 0, 255).astype(np.uint8)
            assert np.array_equal(img, ref)


def test_decontaminate_python_matches_explode_join(spark):
    """r7 mapInArrow decontaminate/decontaminate_bloom == the old
    explode + semi-join / crossJoin-filter pipelines on random texts
    incl. multi-space runs, short docs, NULL text and unicode (the
    shingle path has no lower(), so Python string ops are exact)."""
    import random

    from pyspark.sql import functions as F

    from camelot_spark.tdp import contamination as ct
    from camelot_spark.tdp.dedup import _shingles

    def ref_decontaminate(documents, n=3, threshold=5):
        benchmark, corpus = ct._default_split(documents)
        bench_grams = benchmark.select(
            F.explode(_shingles(F.col("text"), n)).alias("g")).distinct()
        grams = corpus.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.explode(_shingles(F.col("text"), n)).alias("g"))
        hits = (grams.join(F.broadcast(bench_grams), "g", "left_semi")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("overlap")))
        base = corpus.select(F.col("doc_id").cast("bigint").alias("doc_id"))
        return (base.join(hits, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("overlap", F.lit(0)).cast("bigint")
                        .alias("overlap"))
                .select("doc_id", "overlap",
                        F.when(F.col("overlap") >= threshold, 1)
                        .otherwise(0).cast("int").alias("contaminated")))

    def ref_bloom(documents, n=3, threshold=5):
        benchmark, corpus = ct._default_split(documents)
        set_bits = (
            benchmark.select(F.explode(_shingles(F.col("text"), n)).alias("g"))
            .distinct()
            .select(F.explode(ct._bloom_positions(
                ct._gram_hash(F.col("g")))).alias("pos"))
            .distinct())

        def _build_filter(batches):
            import numpy as np
            import pandas as pd
            bf = np.zeros(ct._BLOOM_M, dtype=bool)
            for pdf in batches:
                bf[pdf["pos"].to_numpy()] = True
            yield pd.DataFrame({"bf": [bf.tolist()]})

        filter_row = set_bits.coalesce(1).mapInPandas(
            _build_filter, "bf array<boolean>")
        grams = corpus.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.explode(_shingles(F.col("text"), n)).alias("g"),
        ).crossJoin(F.broadcast(filter_row))
        passes = F.aggregate(
            ct._bloom_positions(ct._gram_hash(F.col("g"))),
            F.lit(True),
            lambda acc, pos: acc & F.element_at(F.col("bf"),
                                                pos.cast("int") + 1))
        hits = (grams.where(passes).groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint")
                     .alias("overlap_bloom")))
        base = corpus.select(F.col("doc_id").cast("bigint").alias("doc_id"))
        return (base.join(hits, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("overlap_bloom", F.lit(0)).cast("bigint")
                        .alias("overlap_bloom"),
                        F.when(F.coalesce("overlap_bloom", F.lit(0))
                               >= threshold, 1)
                        .otherwise(0).cast("int").alias("contaminated")))

    random.seed(47)
    words = ["alpha", "beta", "café", "漢字", "x", "the", "of", "and"]
    rows = [(1, None), (2, ""), (3, "a b"), (4, "a  b  c  d"),
            (50, "the of and the of and"), (100, "the of and extra pad")]
    for i in range(5, 45):
        rows.append((i, " ".join(random.choice(words)
                                 for _ in range(random.randrange(0, 25)))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn, ref in ((ct.decontaminate, ref_decontaminate),
                    (ct.decontaminate_bloom, ref_bloom)):
        got = sorted(map(tuple, fn(df).collect()))
        want = sorted(map(tuple, ref(df).collect()))
        assert got == want, fn.__name__


def _gram_test_docs(spark, seed=29, n_docs=40):
    import random

    random.seed(seed)
    words = ["alpha", "beta", "café", "漢字", "x", "", "the", "of"]
    rows = [(0, ""), (1, " "), (2, "  "), (3, None), (4, "one"),
            (5, "a b"), (6, "a b c"), (7, "a a a a a"),
            (8, "x y z x y z x y z")]
    for i in range(9, n_docs):
        rows.append((i, " ".join(random.choice(words)
                                 for _ in range(random.randrange(0, 30)))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _positional_shingles(col, n=3):
    """The pre-r7 _shingles: per-position interpreted transform."""
    from pyspark.sql import functions as F

    toks = F.split(col, " ")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(F.size(toks) >= n, F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )).otherwise(F.array().cast("array<string>"))


def test_shingles_zip_matches_positional(spark):
    """r7 zip-built _shingles (ngram_jaccard, streaming folds) must
    equal the old per-position transform form element for element —
    including NULL text (empty array), short docs and duplicates."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp.dedup import _shingles

    df = _gram_test_docs(spark)
    for n in (2, 3):
        rows = df.select(
            "doc_id",
            _shingles(F.col("text"), n).alias("a"),
            _positional_shingles(F.col("text"), n).alias("b"),
        ).collect()
        for r in rows:
            assert r["a"] == r["b"], (n, r["doc_id"])


def test_prod_minhash_fold_matches_distinct_shingle_fold(spark):
    """r7 prod minhash (fold over NO-distinct zip grams) must produce
    the identical signatures the old fold over distinct shingles did:
    MIN aggregation is duplicate-insensitive, and short/NULL-text docs
    keep their all-NULL signature."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp import dedup

    df = _gram_test_docs(spark, seed=31)

    def reference(documents):
        d = documents.select(
            "doc_id", _positional_shingles(F.col("text"), 3).alias("sh"))

        def _seeded(k):
            return lambda s: dedup._prod_minhash_hash(s, k)

        sig = F.array(*[F.array_min(F.transform("sh", _seeded(k)))
                        for k in range(32)])
        return d.select("doc_id", sig.alias("sig"))

    got = {r["doc_id"]: r["sig"]
           for r in dedup.minhash_signatures(df, portable=False).collect()}
    want = {r["doc_id"]: r["sig"] for r in reference(df).collect()}
    assert got == want


def test_top_ngrams_zip_matches_positional(spark):
    """r7 top_ngrams (explode(arrays_zip) + post-explode concat) must
    count the identical gram multiset the positional transform did."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp import text as tdp_text

    df = _gram_test_docs(spark, seed=37)

    def reference(documents, n=2, k=20):
        toks = F.split(F.col("text"), " ")
        idx = F.sequence(F.lit(0), F.size(toks) - n)
        grams = F.when(
            F.size(toks) >= n,
            F.transform(idx,
                        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
        ).otherwise(F.array().cast("array<string>"))
        return (documents.select(F.explode(grams).alias("ngram"))
                .groupBy("ngram")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("ngram")).limit(k))

    got = sorted(map(tuple, tdp_text.top_ngrams(df).collect()))
    want = sorted(map(tuple, reference(df).collect()))
    assert got == want


def test_lm_bigram_reassociated_join_matches_chain(spark):
    """r7 lm_bigram_score (counts attached on the per-bigram-TYPE table,
    fact rows joined once) must equal the old bi⋈uni⋈big chain."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp.text import _tokens, lm_bigram_score

    df = _gram_test_docs(spark, seed=41)

    def reference(documents):
        toks = documents.select(
            "doc_id",
            F.filter(_tokens(F.lower(F.col("text"))),
                     lambda t: F.length(t) > 0).alias("toks"))
        bi = toks.where(F.size("toks") >= 2).select(
            "doc_id",
            F.explode(F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).alias("bg"),
        ).select("doc_id", "bg.w1", "bg.w2")
        uni = (toks.select(F.explode("toks").alias("w1"))
               .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
        big = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
        surp = (F.length(F.bin(F.col("c1")))
                - F.length(F.bin(F.col("c12")))).cast("bigint")
        return (bi.join(uni, "w1").join(big, ["w1", "w2"])
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_bigrams"),
                     F.sum(surp).alias("sum_bits"))
                .selectExpr(
                    "doc_id",
                    "CAST(n_bigrams AS BIGINT) AS n_bigrams",
                    "CAST(sum_bits AS BIGINT) AS sum_bits",
                    "CAST((sum_bits * CAST(1000 AS BIGINT)) DIV n_bigrams"
                    " AS BIGINT) AS bits_x1000"))

    got = sorted(map(tuple, lm_bigram_score(df).collect()))
    want = sorted(map(tuple, reference(df).collect()))
    assert got == want


def test_bpe_pair_counts_zip_matches_filtered_zipwith(spark):
    """r7 _pair_counts (raw-token zip-explode + ''-guard) must count
    the identical pair multiset the old filter()+zip_with() form did
    on arbitrary state strings (the padded single-space invariant)."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp.bpe import _initial_state, _pair_counts

    def reference(state):
        toks = F.filter(F.split(F.col("s"), " "),
                        lambda t: F.length(t) > 0)
        pairs = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda l, r: F.struct(l.alias("l"), r.alias("r")))
        return (state.select(F.explode(pairs).alias("p"))
                .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .where((F.col("l") != "|") & (F.col("r") != "|"))
                .groupBy("l", "r")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))

    df = _gram_test_docs(spark, seed=43)
    state = _initial_state(df)
    got = sorted(map(tuple, _pair_counts(state).collect()))
    want = sorted(map(tuple, reference(state).collect()))
    assert got == want


def test_portable_sig_arrow_matches_mix_groupby(spark):
    """r7 numpy seed-mix/segment-min seam for portable minhash must
    equal the r6 explode + 32-projection + groupBy-MIN shape — incl.
    NULL text, short docs, and docs spanning Arrow batch boundaries
    (forced via a 1-row-batch config would be slow; a long doc plus
    many docs per partition covers the carry path at the default batch
    size only when rows exceed it, so we ALSO drive the generator
    directly on a tiny batch iterator below)."""
    import numpy as np  # noqa: F401  (seam imports inside)
    import pyarrow as pa
    from pyspark.sql import functions as F

    from camelot_spark.tdp import dedup, spread
    from camelot_spark.tdp.dedup import _shingle_rows
    from camelot_spark.tdp.text import _POLY_M, portable_token_hash

    def reference(documents, num_hashes=32, n=3):
        ex = _shingle_rows(spread(documents), n)
        ex = ex.select(
            "doc_id", portable_token_hash(F.col("__mh_s")).alias("ph"))
        mixes = [((F.col("ph") * (2654435761 + k) + 40503 * (k + 1))
                  % _POLY_M).alias(f"h{k}") for k in range(num_hashes)]
        agg = (ex.select("doc_id", *mixes).groupBy("doc_id")
               .agg(*[F.min(f"h{k}").alias(f"m{k}")
                      for k in range(num_hashes)]))
        return agg.select(
            "doc_id", F.array(*[F.col(f"m{k}")
                                for k in range(num_hashes)]).alias("sig"))

    df = _gram_test_docs(spark, seed=53, n_docs=60)
    got = {r["doc_id"]: r["sig"]
           for r in dedup.minhash_signatures(df, portable=True).collect()}
    want = {r["doc_id"]: r["sig"] for r in reference(df).collect()}
    assert got == want

    # batch-boundary carry: drive the seam's Arrow generator directly
    # on hand-built tiny batches where one doc's rows span three
    # batches (the default 8000-row batch never splits the tiny
    # Spark-side corpora above)
    def run_gen(rows, num_hashes=4):
        captured = {}

        class FakeDF:
            def mapInArrow(self, f, schema):
                captured["fn"] = f
                return None

        dedup._portable_sig_arrow(FakeDF(), num_hashes)
        f = captured["fn"]
        schema = pa.schema([("doc_id", pa.int64()), ("__mh_ph", pa.int64())])
        batches = [pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(phs, pa.int64())],
            schema=schema) for ids, phs in rows]
        out = []
        for ob in f(iter(batches)):
            for i in range(ob.num_rows):
                out.append((ob.column("doc_id")[i].as_py(),
                            ob.column("sig")[i].as_py()))
        return out

    M = _POLY_M

    def mix(ph, k):
        return (ph * (2654435761 + k) + 40503 * (k + 1)) % M

    rows = [([7, 7], [10, 20]), ([7], [5]), ([7, 8], [30, None]),
            ([9], [None]), ([10, 10], [None, 3])]
    out = run_gen(rows)
    assert out[0][0] == 7
    assert out[0][1] == [min(mix(p, k) for p in (10, 20, 5, 30))
                         for k in range(4)]
    assert out[1] == (8, [None] * 4)
    assert out[2] == (9, [None] * 4)
    assert out[3] == (10, [mix(3, k) for k in range(4)])


def test_simhash_portable32_arrow_matches_expression_fold(spark):
    """r7 Arrow majority seam for the 32-bit portable simhash must
    equal the old per-bit ±1 expression fold (NULL text, empty, lone
    spaces, unicode, repeated tokens)."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp import dedup
    from camelot_spark.tdp.text import _POLY_M, portable_token_hash

    def reference(documents):
        ph = F.transform(F.split("text", " "), portable_token_hash)

        def h32(p):
            m1 = (p * 48271 + 11) % _POLY_M
            m2 = (p * 69621 + 97) % _POLY_M
            return (m1.bitwiseAND(F.lit(0xFFFF))
                    + m2.bitwiseAND(F.lit(0xFFFF)) * F.lit(65536))

        ws = F.transform(ph, h32)

        def bits_of(h):
            return F.array(*[
                F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1))
                       != F.lit(0), F.lit(1))
                .otherwise(F.lit(-1)).cast("long") for b in range(32)])

        counters = F.aggregate(
            ws, F.array_repeat(F.lit(0).cast("long"), 32),
            lambda acc, h: F.zip_with(acc, bits_of(h), lambda x, y: x + y))
        sim = F.aggregate(
            F.zip_with(counters,
                       F.array(*[F.lit(1 << b).cast("long")
                                 for b in range(32)]),
                       lambda cnt, w: F.when(cnt > 0, w)
                       .otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        return documents.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            sim.cast("bigint").alias("simhash"))

    df = _gram_test_docs(spark, seed=59, n_docs=45)
    got = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash_portable32(df).collect()}
    want = {r["doc_id"]: r["simhash"] for r in reference(df).collect()}
    assert got == want

