"""Round-6 tests.

Wire-verification of the xxhash64 PRODUCTION dedup paths: no DuckDB
oracle can reproduce xxhash64, so the portable twins pin the shared
banding/grouping *logic* but not the production branch's own wiring
(its signature-assembly comprehension, seed closure, band extraction
call sites). These tests monkeypatch the module-level hash seams
(`dedup._prod_minhash_hash` / `dedup._prod_simhash_token_hash`) with
the portable hash family and run the production ``portable=False``
code paths end-to-end, asserting exact equality with the
``portable=True`` twins (or a from-scratch Python reference) on the
same corpus — turning "logic verified" into "wiring verified" for
minhash_lsh_pairs, minhash_neardup_verified, dedup_groups and
simhash_near_dups.
"""
from pyspark.sql import functions as F

from camelot_spark.tdp import dedup as dedup_mod
from camelot_spark.tdp.text import _POLY_M, portable_token_hash

M = 1_000_000_007


def _injected_minhash_hash(s, k: int):
    """The portable=True hash family, expressed through the production
    seam's (column, seed) signature — identical values to the portable
    path's mix_k(portable_token_hash(s)) fold."""
    return (portable_token_hash(s) * (2654435761 + k)
            + 40503 * (k + 1)) % _POLY_M


def _neardup_corpus(spark):
    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    u = "one two three four five six seven eight nine ten"
    rows = [(0, t), (1, t + " lambda"), (2, u), (3, u + " extra"),
            (4, t), (5, "totally unrelated words with no overlap here"),
            (6, "short doc"), (7, t.replace("delta", "dolta"))]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestMinhashProdWiring:
    def test_lsh_pairs_prod_path_equals_portable(self, spark, monkeypatch):
        docs = _neardup_corpus(spark)
        want = {(r["a_id"], r["b_id"]) for r in
                dedup_mod.minhash_lsh_pairs(docs, portable=True).collect()}
        monkeypatch.setattr(dedup_mod, "_prod_minhash_hash",
                            _injected_minhash_hash)
        got = {(r["a_id"], r["b_id"]) for r in
               dedup_mod.minhash_lsh_pairs(docs, portable=False).collect()}
        assert want  # the corpus must actually produce candidates
        assert got == want

    def test_neardup_verified_prod_path_equals_portable(self, spark,
                                                        monkeypatch):
        docs = _neardup_corpus(spark)
        want = {(r["a_id"], r["b_id"], r["jaccard_x10k"]) for r in
                dedup_mod.verify_pairs_jaccard(
                    docs, dedup_mod.minhash_lsh_pairs(docs, portable=True)
                ).collect()}
        monkeypatch.setattr(dedup_mod, "_prod_minhash_hash",
                            _injected_minhash_hash)
        got = {(r["a_id"], r["b_id"], r["jaccard_x10k"]) for r in
               dedup_mod.minhash_neardup_verified(docs).collect()}
        assert want
        assert got == want

    def test_dedup_groups_prod_path_equals_portable(self, spark,
                                                    monkeypatch):
        docs = _neardup_corpus(spark)
        want = {(r["doc_id"], r["component"], r["is_canonical"]) for r in
                dedup_mod.dedup_groups(docs, portable=True).collect()}
        monkeypatch.setattr(dedup_mod, "_prod_minhash_hash",
                            _injected_minhash_hash)
        got = {(r["doc_id"], r["component"], r["is_canonical"]) for r in
               dedup_mod.dedup_groups(docs, portable=False).collect()}
        assert any(c != d for d, c, _ in want)  # some real grouping
        assert got == want


def _py_token_hash(tok: str) -> int:
    h = 0
    for c in tok[:8]:
        h = h * 31 + ord(c)
    return h % M


def _py_spread64(tok: str) -> int:
    """Python mirror of _injected_simhash_hash: a 64-bit-wide portable
    value (bits 0..60 from two seeded mixes, bit 63 from parity) so the
    simhash fold's full bit range — including the sign-bit weight — is
    exercised. Returns the signed two's-complement value Spark sees."""
    ph = _py_token_hash(tok)
    h1 = (ph * 2654435761 + 12345) % M
    h2 = (ph * 40503 + 9176) % M
    comb = (h1 << 31) + h2
    if ph % 2 == 1:
        comb -= 1 << 63
    return comb


def _injected_simhash_hash(w):
    ph = portable_token_hash(w)
    h1 = (ph * 2654435761 + 12345) % _POLY_M
    h2 = (ph * 40503 + 9176) % _POLY_M
    comb = F.shiftleft(h1, 31) + h2
    return F.when(ph % 2 == 1,
                  comb + F.lit(-(1 << 63)).cast("long")).otherwise(comb)


def _py_simhash(text: str) -> int:
    counters = [0] * 64
    for tok in text.split(" "):
        h = _py_spread64(tok) & 0xFFFFFFFFFFFFFFFF
        for b in range(64):
            counters[b] += 1 if (h >> b) & 1 else -1
    sim = 0
    for b in range(64):
        if counters[b] > 0:
            sim += -(1 << 63) if b == 63 else 1 << b
    return sim


def test_dedup_report_short_docs_no_ansi_crash(spark):
    """Two shingle-less docs pair through the '' band bucket with a
    0/0 Jaccard — plain division THROWS under ANSI (the r6 review
    reproduced the crash); try_divide must drop the pair like the
    DuckDB twins' NULL does, and the real near-dup must still verify."""
    from camelot_spark.tdp import dedup

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(0, "one two"), (2, "three"), (4, t), (6, t + " lambda")],
        "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(docs, portable=True)
    out = [tuple(r) for r in dedup.dedup_report(docs, pairs).collect()]
    assert out == [(4, 2, 1, 8888, 8888, 63)]
    v = [tuple(r) for r in dedup.minhash_neardup_verified(docs).collect()]
    assert v == [(4, 6, 8888)]   # the short-doc '' pair is gone


class TestPyXXH64:
    def test_matches_spark_all_layouts(self, spark):
        """pyhash's XXH64 mirror must equal Spark's XxHash64 across
        every byte-length class (empty, <4, 4-7, 8-31, >=32 block
        loop), non-ASCII UTF-8, and INT / BIGINT argument chaining —
        the exactness contract behind the production dedup oracles."""
        from pyspark.sql import functions as F

        from camelot_spark.tdp.pyhash import (spark_xxhash64_str,
                                              spark_xxhash64_str_int,
                                              to_signed, xxh64_long)

        strs = ["", "a", "abc", "abcd", "abcdefg", "hello world",
                "x" * 31, "y" * 32, "z" * 67, "日本語テスト",
                "batch part spark line column order small sort"]
        df = spark.createDataFrame([(s,) for s in strs], "s string")
        got = df.select(
            "s", F.xxhash64("s").alias("h"),
            F.xxhash64("s", F.lit(7)).alias("h7"),
            F.xxhash64("s", F.lit(31)).alias("h31"),
            F.xxhash64(F.lit(12345).cast("long"), F.col("s")).alias("hl"),
        ).collect()
        for r in got:
            assert spark_xxhash64_str(r["s"]) == r["h"], r["s"]
            assert spark_xxhash64_str_int(r["s"], 7) == r["h7"], r["s"]
            assert spark_xxhash64_str_int(r["s"], 31) == r["h31"], r["s"]
            from camelot_spark.tdp.pyhash import xxh64_bytes
            assert to_signed(xxh64_bytes(
                r["s"].encode(), xxh64_long(12345, 42))) == r["hl"], r["s"]

    def test_matches_spark_on_random_unicode(self, spark):
        """Property check: one batched Spark comparison over
        hypothesis-style random unicode strings (drawn up-front so the
        JVM round-trip happens once) — every byte-length class and
        surrogate-free codepoint range."""
        import random

        from pyspark.sql import functions as F

        from camelot_spark.tdp.pyhash import (spark_xxhash64_str,
                                              spark_xxhash64_str_int)

        rng = random.Random(1234)
        pool = [chr(c) for c in list(range(32, 127))
                + [0xE9, 0x4E2D, 0x1F600, 0x10FFFF, 0x7FF, 0xFFFD]]
        strs = ["".join(rng.choices(pool, k=rng.randint(0, 80)))
                for _ in range(300)]
        df = spark.createDataFrame([(s,) for s in strs], "s string")
        got = df.select("s", F.xxhash64("s").alias("h"),
                        F.xxhash64("s", F.lit(5)).alias("h5")).collect()
        for r in got:
            assert spark_xxhash64_str(r["s"]) == r["h"]
            assert spark_xxhash64_str_int(r["s"], 5) == r["h5"]

    def test_prod_dedup_expected_sql_nonempty(self):
        """The generated VALUES twins exist for all four queries and
        carry real rows (the sf0.01 corpus has known near-dups)."""
        import __spark_entry__ as e

        for name in ("minhash_lsh_pairs", "minhash_neardup_verified",
                     "dedup_groups", "simhash_near_dups"):
            sql = e._prod_dedup_expected_sql(name)
            assert "VALUES" in sql, name


class TestSimhashProdWiring:
    def test_simhash64_fold_matches_python_reference(self, spark,
                                                     monkeypatch):
        """The production 64-bit fold (bits_of, majority rule, place-
        value weights incl. the sign bit) reproduced from scratch in
        Python, with the portable hash injected through the seam."""
        monkeypatch.setattr(dedup_mod, "_prod_simhash_token_hash",
                            _injected_simhash_hash)
        docs = _neardup_corpus(spark)
        got = {r["doc_id"]: r["simhash"]
               for r in dedup_mod.simhash64(docs).collect()}
        want = {d: _py_simhash(t)
                for d, t in docs.collect()}
        assert got == want
        # the parity bit must actually set the sign bit on some doc,
        # or the b==63 weight branch went untested
        assert any(v < 0 for v in want.values())

    def test_simhash_near_dups_prod_wiring(self, spark, monkeypatch):
        """End-to-end simhash_near_dups with the injected hash equals a
        brute-force hamming scan over the Python-reference simhashes."""
        monkeypatch.setattr(dedup_mod, "_prod_simhash_token_hash",
                            _injected_simhash_hash)
        # radius 16: the product's 3 keeps only the tightest pairs
        monkeypatch.setattr(dedup_mod, "_SIMHASH_MAX_HAMMING", 16)
        docs = _neardup_corpus(spark)
        got = {(r["a_id"], r["b_id"], r["hamming"]) for r in
               dedup_mod.simhash_near_dups(docs).collect()}
        sigs = {d: _py_simhash(t) & 0xFFFFFFFFFFFFFFFF
                for d, t in docs.collect()}
        ids = sorted(sigs)
        want = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ham = bin(sigs[a] ^ sigs[b]).count("1")
                # pigeonhole recall bound: 4 chunks guarantee pairs
                # with hamming <= 3; wider matches need a shared chunk
                shares_chunk = any(
                    (sigs[a] >> (16 * c)) & 0xFFFF
                    == (sigs[b] >> (16 * c)) & 0xFFFF
                    for c in range(4))
                if ham <= 16 and shares_chunk:
                    want.add((a, b, ham))
        assert want  # corpus must produce at least one near-dup
        assert got == want
