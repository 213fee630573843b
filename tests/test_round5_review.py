"""Round-5 code-review regressions: malformed-container
best-effort in frame_sample, idx1 fallback robustness, plan-audit
window classification default-closed, and prefix-cache cleanup."""

import numpy as np
import pytest


class TestAviRobustness:
    def _frames(self, n=3):
        rng = np.random.RandomState(5)
        return [rng.randint(0, 256, (8, 8)).astype(np.uint8)
                for _ in range(n)]

    def test_truncated_idx1_degrades_row_in_frame_sample(self, spark, monkeypatch):
        """A container truncated inside its idx1 raises struct.error in
        header parsing; frame_sample must degrade that ROW to the
        fixed-size-chunk route, not fail the task."""
        from camelot_spark.tdp import multimodal
        from camelot_spark.tdp.avi_codec import encode_avi
        from camelot_spark.tdp.multimodal import frame_sample

        avi = encode_avi(self._frames())
        ib = avi.index(b"idx1")
        truncated = avi[:ib + 12]  # ends mid-entry; RIFF size now lies
        docs = spark.createDataFrame(
            [("t", truncated)], "doc_id string, payload binary")
        monkeypatch.setattr(multimodal, "_EVERY_N", 1)
        rows = frame_sample(docs).collect()
        assert len(rows) == len(truncated) // 64  # chunk-route fallback

    def test_empty_idx1_falls_back_to_movi_walk(self):
        import struct

        from camelot_spark.tdp import avi_codec as A

        base = A.encode_avi(self._frames(), with_index=False)
        body = b"AVI " + base[12:] + A._chunk(b"idx1", b"")
        avi = b"RIFF" + struct.pack("<I", len(body)) + body
        assert A.parse_idx1(avi) is None
        assert len(A.decode_avi(avi)) == 3  # movi walk unaffected

    def test_rec_grouped_movi_decodes_via_walk(self):
        """OpenDML rec-grouped files: idx1 entries pointing at LIST
        groups make the index unusable (None), and the movi walk now
        recurses into the rec lists so frames still decode."""
        import struct

        from camelot_spark.tdp import avi_codec as A
        from camelot_spark.tdp.jpeg_codec import encode_jpeg

        frames = self._frames()
        jpegs = [encode_jpeg(f, quality=95) for f in frames]
        rec = A._list(b"rec ", b"".join(A._chunk(b"00dc", j) for j in jpegs))
        movi = A._list(b"movi", rec)
        got = A.encode_avi(frames)  # steal a valid hdrl
        hdrl_end = got.index(b"LIST", 12)
        hdrl_start = got.index(b"LIST")
        (hsize,) = struct.unpack("<I", got[hdrl_start + 4:hdrl_start + 8])
        hdrl = got[hdrl_start:hdrl_start + 8 + hsize + (hsize & 1)]
        body = b"AVI " + hdrl + movi
        avi = b"RIFF" + struct.pack("<I", len(body)) + body
        assert A.parse_idx1(avi) is None
        dec = A.decode_avi(avi)
        assert len(dec) == 3
        assert np.abs(dec[0].astype(int) - frames[0].astype(int)).max() <= 4

    def test_corrupt_idx1_offsets_fall_back_not_raise(self):
        import struct

        from camelot_spark.tdp import avi_codec as A

        avi = bytearray(A.encode_avi(self._frames()))
        ib = bytes(avi).index(b"idx1") + 8
        avi[ib + 8:ib + 12] = struct.pack("<I", 0xDEAD)  # bogus offset
        assert A.parse_idx1(bytes(avi)) is None
        assert len(A.decode_avi(bytes(avi))) == 3


def test_plan_audit_flags_analytic_windows(spark):
    """Default-closed window classification: lag/lead and friends over
    a data-cardinality key count as unbounded-group suspects; a pure
    rank window with WindowGroupLimit stays clean."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tools.plan_audit import plan_props

    df = spark.range(100).selectExpr("id % 7 AS k", "id AS x")
    lagged = df.select("k", F.lag("x").over(
        Window.partitionBy("k").orderBy("x")).alias("prev"))
    assert plan_props(lagged)["window_agg"] >= 1

    ranked = df.select("k", "x", F.row_number().over(
        Window.partitionBy("k").orderBy("x")).alias("rn")).where("rn <= 3")
    p = plan_props(ranked)
    assert p["window_agg"] == 0 and p["window_rank_unlimited"] == 0


def test_prefix_cache_cleanup_removes_this_process_dirs(tmp_path):
    import os

    import __spark_entry__ as e

    p = e._prefix_path("unittest_probe", "/some/sf")
    os.makedirs(p, exist_ok=True)
    assert os.path.isdir(p)
    e._cleanup_prefix_caches()
    assert not os.path.exists(p)


def test_semantic_dedup_keep_first(spark):
    """Identical vectors land in the same IVF cell; the higher id is
    dropped (keep-first), singletons survive, flags are exact."""
    from camelot_spark.tdp.similarity import semantic_dedup

    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    rows = [(0, v), (1, v), (2, w), (3, [0.9, 0.1, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semantic_dedup(emb).collect()}
    assert out[0]["is_kept"] == 1          # canonical of the dup pair
    assert out[1]["is_kept"] == 0          # exact dup of a lower id
    assert out[2]["is_kept"] == 1          # orthogonal singleton
    assert len(out) == 4


def test_semantic_dedup_cell_cap_bounds_hot_cell(spark, monkeypatch):
    """A planted hot cell cannot go quadratic: with a cell cap of 2, only
    the first 2 members of the cell (by vec_id) drop others — tail
    members are compared against the head (linear, cap x |cell|) but
    never against EACH OTHER. And when the cap doesn't bind, output is
    identical to uncapped."""
    from camelot_spark.tdp import similarity
    from camelot_spark.tdp.similarity import semantic_dedup

    u = [1.0, 0.0, 0.0, 0.0]
    v = [0.7, 0.7, 0.0, 0.0]            # cos(u, v) ~ 0.707 < 0.99
    rows = [(0, u), (1, u), (2, v), (3, v), (4, v)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # one cell makes the whole corpus ONE hot cell by construction; the
    # product cap (10000) does not bind
    monkeypatch.setattr(similarity, "_SEMANTIC_CELLS", 1)
    monkeypatch.setattr(similarity, "_SEMDEDUP_THRESHOLD_X10K", 9900)
    uncapped = {r["vec_id"]: r["is_kept"] for r in semantic_dedup(
        emb).collect()}
    # reps {0,1} drop 1; tail pairs (2,3),(3,4),(2,4) drop 3,4
    assert uncapped == {0: 1, 1: 0, 2: 1, 3: 0, 4: 0}

    monkeypatch.setattr(similarity, "_SEMDEDUP_CELL_CAP", 2)
    capped = {r["vec_id"]: r["is_kept"] for r in semantic_dedup(
        emb).collect()}
    # reps {0,1}: (0,1) still compared (drop 1); head x tail compared
    # but cos < threshold; tail x tail (2,3),(2,4),(3,4) NEVER compared
    # => 3 and 4 survive — the observable proof the pair space is
    # cap x |cell|, not |cell|^2
    assert capped == {0: 1, 1: 0, 2: 1, 3: 1, 4: 1}

    # non-binding cap (>= cell size) reproduces uncapped exactly
    monkeypatch.setattr(similarity, "_SEMDEDUP_CELL_CAP", 5)
    roomy = {r["vec_id"]: r["is_kept"] for r in semantic_dedup(
        emb).collect()}
    assert roomy == uncapped


def test_lm_bigram_score_brute_force(spark):
    """Integer bigram surprisal against a from-scratch reference."""
    import math
    from collections import Counter

    from camelot_spark.tdp.text import lm_bigram_score

    docs = {
        10: "the cat sat on the mat",
        11: "the cat sat",
        12: "zq",                      # single token: no bigrams, omitted
        13: "on on on the cat",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    toks = {d: [t for t in s.lower().split(" ") if t] for d, s in docs.items()}
    uni = Counter(t for ts in toks.values() for t in ts)
    big = Counter((a, b) for ts in toks.values() for a, b in zip(ts, ts[1:]))

    def fl2(x):
        return int(math.floor(math.log2(x)))

    got = {r["doc_id"]: r for r in lm_bigram_score(df).collect()}
    assert 12 not in got
    for d, ts in toks.items():
        if len(ts) < 2:
            continue
        bits = [fl2(uni[a]) - fl2(big[(a, b)]) for a, b in zip(ts, ts[1:])]
        assert got[d]["n_bigrams"] == len(bits)
        assert got[d]["sum_bits"] == sum(bits)
        assert got[d]["bits_x1000"] == sum(bits) * 1000 // len(bits)


def test_session_rollup_boundary_semantics(spark):
    """Native session_window gap semantics pinned: a gap of EXACTLY
    gap_s merges, strictly greater splits — same `> gap` convention as
    sessionize_gaps, which is what makes the islands SQL an exact
    twin. Sub-second timestamps floor like unix_timestamp."""
    import datetime as dt

    from camelot_spark.tdp.relational import session_rollup

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base, 1), (1, base + dt.timedelta(seconds=1800), 2),
            (3, base, 3), (3, base + dt.timedelta(seconds=1801), 4),
            (5, base, 5), (5, base + dt.timedelta(seconds=900), 6),
            (5, base + dt.timedelta(seconds=2600), 7)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {}
    for r in session_rollup(df).collect():
        out.setdefault(r["user_id"], []).append(r)
    assert len(out[1]) == 1 and out[1][0]["n_events"] == 2
    assert out[1][0]["span_s"] == 1800
    assert len(out[3]) == 2                      # 1801 splits
    # chained extension: 0 -> 900 -> 2600 all within per-event gaps
    assert len(out[5]) == 1 and out[5][0]["n_events"] == 3
    assert out[5][0]["span_s"] == 2600


def test_session_rollup_streaming_append(spark, tmp_path):
    """session_rollup's session_window operator is streaming-capable:
    in append mode a session row is emitted only once the watermark
    passes its close — the same rollup as batch, incrementally."""
    import datetime as dt

    from camelot_spark.tdp.relational import session_rollup

    inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    base = dt.datetime(2024, 1, 1)

    def write(rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long"
        ).coalesce(1).write.mode("append").parquet(inp)

    def drain():
        events = (spark.readStream
                  .schema("user_id long, ts timestamp, event_id long")
                  .parquet(inp).withWatermark("ts", "10 seconds"))
        q = (session_rollup(events)
             .writeStream.option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True)
             .format("parquet").option("path", outp).start())
        q.awaitTermination(120)

    # two events 30 s apart (one session) + a far-future event that
    # advances the watermark beyond session close + grace
    write([(1, base, 1), (1, base + dt.timedelta(seconds=30), 2),
           (9, base + dt.timedelta(hours=2), 3)])
    drain()
    rows = {r["user_id"]: r for r in spark.read.parquet(outp).collect()}
    assert rows[1]["n_events"] == 2 and rows[1]["span_s"] == 30
    # the far-future user's session is still open (watermark has not
    # passed IT) — append mode must not have emitted it yet
    assert 9 not in rows
    # a later batch closes it
    write([(2, base + dt.timedelta(hours=5), 4)])
    drain()
    rows = {r["user_id"]: r for r in spark.read.parquet(outp).collect()}
    assert rows[9]["n_events"] == 1


def test_decontaminate_bloom_matches_python_mirror(spark):
    """The Bloom decisions are a deterministic function of the integer
    hash family — a from-scratch Python mirror of (poly-fold gram hash,
    prime-mixed k positions, membership) must agree exactly."""
    from camelot_spark.tdp.contamination import (_BLOOM_K, _BLOOM_M,
                                                 _POLY_M,
                                                 decontaminate_bloom)

    P = _POLY_M

    def gh(g):
        a = 0
        for c in g:
            a = (a * 31 + ord(c)) % P
        return a

    def positions(g):
        h = gh(g)
        return [((h * (2654435761 + j) + 40503 * (j + 1)) % P) % _BLOOM_M
                for j in range(_BLOOM_K)]

    def shingles(t, n=3):
        toks = t.split(" ")
        return list(dict.fromkeys(
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
        )) if len(toks) >= n else []

    docs = {0: "the quick brown fox jumps over the lazy dog",
            50: "pack my box with five dozen liquor jugs",
            1: "the quick brown fox jumps high today ok",
            2: "pack my box with five dozen liquor jugs and more words here",
            3: "completely unrelated text with no overlap at all present"}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc_id"]: r["overlap_bloom"]
           for r in decontaminate_bloom(df).collect()}

    bench_bits = {p for d in (0, 50) for g in shingles(docs[d])
                  for p in positions(g)}
    for d, t in docs.items():
        if d % 50 == 0:
            assert d not in got
            continue
        want = sum(1 for g in shingles(t)
                   if all(p in bench_bits for p in positions(g)))
        assert got[d] == want, (d, got[d], want)
    # sanity: doc 1 shares grams with doc 0, doc 3 shares none
    assert got[1] >= 1 and got[3] == 0


class TestQualityClassifier:
    def test_rocchio_learns_and_mirrors_python(self, spark):
        """The integer Rocchio model must (a) reproduce a from-scratch
        Python mirror exactly and (b) genuinely learn the stopword
        label (accuracy well above the majority rate)."""
        import numpy as np

        from camelot_spark.tdp.perceptron import (_DIM, _POLY_M,
                                                  _STOPWORDS,
                                                  _SW_THRESHOLD_PM,
                                                  train_quality_classifier)

        rng = np.random.RandomState(9)
        sw = list(_STOPWORDS)
        other = [f"tok{i}" for i in range(30)]
        docs = {}
        for d in range(40):
            n = rng.randint(8, 30)
            frac = 0.3 if d % 2 else 0.02
            toks = [sw[rng.randint(len(sw))] if rng.rand() < frac
                    else other[rng.randint(len(other))] for _ in range(n)]
            docs[d * 4] = " ".join(toks)  # %4==0 slice convention unused here
        df = spark.createDataFrame(list(docs.items()),
                                   "doc_id long, text string")
        got = {r["bucket"]: r["weight"]
               for r in train_quality_classifier(df).collect()}

        def bucket(tok):
            h = 0
            for c in tok:
                h = (h * 31 + ord(c)) % _POLY_M
            return ((h * 2654435761 + 40503) % _POLY_M) % _DIM

        X, Y = {}, {}
        for d, t in docs.items():
            toks = [w for w in t.lower().split(" ") if w]
            if not toks:
                continue
            v = np.zeros(_DIM, dtype=np.int64)
            for w in toks:
                v[bucket(w)] += 1
            X[d] = (v * 1000) // len(toks)
            nsw = sum(1 for w in toks if w in _STOPWORDS)
            Y[d] = 1 if (nsw * 1000) // len(toks) > _SW_THRESHOLD_PM else -1
        pos = [d for d in X if Y[d] == 1]
        neg = [d for d in X if Y[d] == -1]
        cp = sum(X[d] for d in pos) // len(pos)
        cn = sum(X[d] for d in neg) // len(neg)
        w = cp - cn
        bias = int(((cp - cn) * (cp + cn)).sum())
        for b in range(_DIM):
            assert got[b] == w[b], b
        assert got[-1] == bias
        # (b) it learns: train accuracy on the crafted corpus
        acc = np.mean([(2 * int(X[d] @ w) - bias > 0) == (Y[d] > 0)
                       for d in X])
        assert acc >= 0.9, acc

    def test_predictions_consistent_with_model(self, spark):
        from camelot_spark.tdp.perceptron import (
            quality_classifier_predictions)

        rows = [(i, ("the of and in " * 3 if i % 2 else "alpha beta gamma "
                     "delta epsilon zeta")) for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = quality_classifier_predictions(df).collect()
        assert all(r["correct"] == 1 for r in out)  # separable corpus
        assert {r["pred"] for r in out} == {1, -1}


def test_ivf_refine_brute_force(spark, monkeypatch):
    """One Lloyd iteration vs a from-scratch numpy replica, on a
    fixture where the hash-sampled pivot of cluster A is atypically
    skewed toward B: the borderline vector 3 starts in cell 0 (pivot
    pull) and the refined mean centroid reassigns it to cell 1 — the
    correction the refinement step exists to make."""
    import numpy as np

    from camelot_spark.tdp import similarity
    from camelot_spark.tdp.similarity import ivf_refine

    A = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, [1.0, 0.75, 0.0, 0.0]),  # pivot 0 (hash rank 1), skewed
        (1, A), (2, A), (3, [0.55, 0.8, 0.0, 0.0]),  # borderline
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.1, 1.0, 0.0, 0.0]),   # pivot 1 (hash rank 2)
        (6, [0.3, 0.95, 0.0, 0.0]),
        (7, [0.4, 0.9, 0.0, 0.0]),
    ]
    scale = 10000
    ids = [r[0] for r in rows]
    emb = {r[0]: np.asarray(r[1], dtype=np.float64) for r in rows}
    hs = sorted((((v * 2654435761 + 40503) % 1000000007), v) for v in ids)
    pivots = [emb[v] for _, v in hs[:2]]

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    def argmax_first(scores):
        return scores.index(max(scores))

    cell0 = {v: argmax_first([cos(emb[v], p) for p in pivots]) for v in ids}
    cents = {}
    for c in set(cell0.values()):
        members = [v for v in ids if cell0[v] == c]
        q = np.floor(np.stack([emb[v] for v in members]) * scale).astype(np.int64)
        s, n = q.sum(axis=0), len(members)
        cents[c] = (s - ((s % n) + n) % n) // n  # floor-div via pmod
    order = sorted(cents)
    want = {}
    for v in ids:
        c1 = order[argmax_first([cos(emb[v], cents[c].astype(float)) for c in order])]
        want[v] = (cell0[v], c1)

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # two cells: the product's 16 would make every vector its own pivot
    monkeypatch.setattr(similarity, "_SEMANTIC_CELLS", 2)
    got = {r["vec_id"]: (r["cell0"], r["cell1"], r["moved"])
           for r in ivf_refine(df).collect()}
    assert {v: (c0, c1) for v, (c0, c1, _) in got.items()} == want
    assert got[3] == (0, 1, 1)           # the corrected borderline vector
    assert all(m == (1 if c0 != c1 else 0) for c0, c1, m in got.values())


def test_dedup_incremental_classifies_new_batch(spark):
    """Exact dup of a ref doc → 'exact' (precedence over near); a
    shingle-overlapping near-dup → 'near'; novel text → 'kept'; short
    (<3-token) docs never match the near path. Ref band buckets are
    DISTINCTed before the semi join (the hot-bucket asymmetry)."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp.dedup import dedup_incremental

    base = "the quick brown fox jumps over the lazy dog again and again"
    ref = spark.createDataFrame(
        [(0, base), (2, "completely different reference material here today"),
         (4, "tiny doc")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base),                                  # exact copy
         (3, base + " tail"),                        # near-dup (shares bands)
         (5, "nothing in common with anything z q w x v b n m k j h g"),
         (7, "tiny doc")],                           # exact but <3 tokens? no — 2 tokens: exact path still md5-matches
        "doc_id long, text string")
    got = {r["doc_id"]: r["status"]
           for r in dedup_incremental(new, ref).collect()}
    assert got[1] == "exact"
    assert got[3] == "near"
    assert got[5] == "kept"
    assert got[7] == "exact"      # md5 path is length-independent
    # short NOVEL docs stay kept (no empty-shingle bucket collisions)
    new2 = spark.createDataFrame([(9, "two words")], "doc_id long, text string")
    assert dedup_incremental(new2, ref).collect()[0]["status"] == "kept"
    # the ref bucket side is pre-reduced: plan aggregates before the join
    plan = dedup_incremental(new, ref)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "LeftSemi" in plan and "HashAggregate" in plan


def test_cluster_balanced_sample_quota_and_plan(spark, monkeypatch):
    """Every populated cell contributes at most k vectors ranked by
    centrality, and the per-cell rank cap plans a WindowGroupLimit so
    no task ever holds a whole cell."""
    import math

    from camelot_spark.tdp import similarity
    from camelot_spark.tdp.similarity import cluster_balanced_sample

    rng_rows = []
    for i in range(60):
        ang = (i * 37) % 360 / 180 * math.pi
        rng_rows.append((i, [math.cos(ang), math.sin(ang), 0.25]))
    df = spark.createDataFrame(rng_rows, "vec_id long, embedding array<float>")
    # 4 cells of ~15 vectors, so the quota of 5 binds
    monkeypatch.setattr(similarity, "_SEMANTIC_CELLS", 4)
    monkeypatch.setattr(similarity, "_BALANCED_QUOTA", 5)
    out = cluster_balanced_sample(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    rows = out.collect()
    per_cell = {}
    for r in rows:
        per_cell.setdefault(r["ivf_cell"], []).append(r["rank"])
    assert per_cell and all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 5
                            for v in per_cell.values())
    assert max(len(v) for v in per_cell.values()) == 5


def test_boilerplate_strip_df_threshold_and_cover(spark):
    """Grams in >= ratio of a source's docs are struck (every
    occurrence, overlapping covers union); rare grams survive; short
    docs (<n tokens) pass through untouched; sources are independent."""
    from camelot_spark.tdp.text import boilerplate_strip

    docs = spark.createDataFrame(
        [(0, "s1", "x foo bar baz y"),
         (1, "s1", "foo bar baz foo bar baz"),
         (2, "s1", "p q foo bar baz"),
         (3, "s1", "nothing shared here at all"),
         # same gram but unique within s2: kept
         (4, "s2", "x foo bar baz y"),
         (5, "s2", "totally different words"),
         (6, "s2", "ab"),                       # <3 tokens: untouched
         ],
        "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in
           boilerplate_strip(docs, min_ratio_ppm=500_000).collect()}
    assert got[0]["clean_text"] == "x y" and got[0]["n_removed"] == 3
    assert got[1]["clean_text"] == "" and got[1]["n_removed"] == 6
    assert got[2]["clean_text"] == "p q" and got[2]["n_removed"] == 3
    assert got[3]["n_removed"] == 0
    # s2: gram in 1 of 3 docs (33% < 50%) -> kept
    assert got[4]["clean_text"] == "x foo bar baz y" and got[4]["n_removed"] == 0
    assert got[6]["clean_text"] == "ab" and got[6]["n_tokens"] == 1
    # determinism under a different layout
    again = {r["doc_id"]: r["clean_text"] for r in
             boilerplate_strip(docs.repartition(5),
                               min_ratio_ppm=500_000).collect()}
    assert again == {k: v["clean_text"] for k, v in got.items()}


def test_perplexity_bucket_mix_tertiles_and_rates(spark):
    """Bucket thresholds are per-lang surprisal tertiles (head =
    lowest-bits third); keep decisions follow the per-bucket ppm rates
    deterministically; <2-token docs are omitted."""
    from camelot_spark.tdp.sampling import perplexity_bucket_mix

    rows = []
    for i in range(30):
        # fluent docs: repeated common bigram; noisy docs: unique pairs
        if i % 3 == 0:
            txt = "the cat sat on the mat the cat sat"
        elif i % 3 == 1:
            txt = f"w{i} common pair common pair w{i} tail{i}"
        else:
            txt = f"a{i} b{i} c{i} d{i} e{i} f{i}"
        rows.append((i, "en", txt))
    rows.append((99, "en", "single"))          # no bigrams -> omitted
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = perplexity_bucket_mix(docs, head_ppm=1_000_000,
                                middle_ppm=1_000_000, tail_ppm=0).collect()
    assert {r["doc_id"] for r in out} == set(range(30))
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["bits_x1000"])
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    # ppm 1e6 keeps everything, ppm 0 keeps nothing
    for r in out:
        assert r["kept"] == (0 if r["bucket"] == "tail" else 1)
    # tertile mass: head holds at least ceil(n/3) docs
    n = len(out)
    assert len(by_bucket["head"]) >= (n + 2) // 3


def test_key_skew_profile_and_hot_keys(spark, monkeypatch):
    """Histogram buckets = floor(log2(group size)); hot_keys returns
    the k largest with deterministic tie-break and ppm share, via a
    TakeOrdered merge (never a global sort)."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp import relational
    from camelot_spark.tdp.relational import hot_keys, key_skew_profile

    # key 'a' x8 (bucket 3), 'b' x3 (bucket 1), 'c','d' x1 (bucket 0)
    rows = [("a",)] * 8 + [("b",)] * 3 + [("c",), ("d",)]
    df = spark.createDataFrame(rows, "tok string")
    prof = {r["bucket"]: (r["n_keys"], r["sum_rows"], r["max_rows"])
            for r in key_skew_profile(df).collect()}
    assert prof == {3: (1, 8, 8), 1: (1, 3, 3), 0: (2, 2, 1)}

    monkeypatch.setattr(relational, "_HOT_KEYS", 3)  # the product's 10 adds 'd'
    hk = hot_keys(df).collect()
    assert [(r["k"], r["c"]) for r in hk] == [("a", 8), ("b", 3), ("c", 1)]
    assert hk[0]["share_ppm"] == 8 * 1_000_000 // 13
    plan = hot_keys(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pq_encode_matches_bruteforce_and_topk_adc(spark):
    """PQ codes equal a plain-Python replication (argmin of left-to-
    right-summed squared L2 per subspace against the hash-ranked
    pivots), and pq_topk ranks by the exact ADC distance over those
    codes. Also pins the scale shape: encode's plan has no shuffle on
    the vectors (broadcast-only), topk's global lone-rank filter
    plans a TakeOrderedAndProject pre-reduce."""
    from pyspark.sql import functions as F  # noqa: F401

    from camelot_spark.tdp.similarity import pq_encode, pq_topk

    rng_rows = []
    # deterministic synthetic vectors, dim 64
    for v in range(40):
        emb = [float(((v * 37 + i * 11) % 97) - 48) / 7.0 for i in range(64)]
        rng_rows.append((v, emb))
    df = spark.createDataFrame(rng_rows, "vec_id long, embedding array<float>")

    # pivots: 16 smallest (vec_id*2654435761 + 40503) % 1e9+7
    h = sorted(range(40), key=lambda v: ((v * 2654435761 + 40503) % 1000000007, v))
    pivots = [rng_rows[v][1] for v in h[:16]]

    import struct as _st
    f32 = lambda x: _st.unpack("f", _st.pack("f", x))[0]  # noqa: E731

    def sqdist(xs, ps, j):
        acc = 0.0
        for i in range(8):
            d = xs[j * 8 + i] - f32(ps[j * 8 + i])
            acc += d * d
        return acc

    def codes_of(emb):
        xs = [f32(x) for x in emb]
        out = []
        for j in range(8):
            dists = [sqdist(xs, p, j) for p in pivots]
            out.append(dists.index(min(dists)))
        return out

    expected = {v: codes_of(emb) for v, emb in rng_rows}
    got = {r["vec_id"]: r["codes_str"] for r in pq_encode(df).collect()}
    for v, codes in expected.items():
        assert got[v] == "-".join(str(c) for c in codes), v

    # ADC distance replication for topk
    q_xs = [f32(x) for x in rng_rows[0][1]]
    def adc(codes):
        acc = 0.0
        for j in range(8):
            acc += sqdist(q_xs, pivots[codes[j]], j)
        return acc
    order = sorted((adc(expected[v]), v) for v in range(1, 40))[:10]
    want = [v for _, v in order]
    topk = pq_topk(df).orderBy("rank").collect()
    assert [r["vec_id"] for r in topk] == want
    assert [r["rank"] for r in topk] == list(range(1, 11))

    # plan shape: encode never shuffles the vectors — r7 moved the
    # codebook into the MapInArrow task closure (collected KS-row
    # pivot model), so the plan is scan -> MapInArrow with no exchange
    # of any kind on the vector side
    enc_plan = pq_encode(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in enc_plan or "BroadcastExchange" in enc_plan
    assert "Exchange hashpartitioning" not in enc_plan

    # topk: the GLOBAL lone-rank filter is rewritten by
    # LimitPushDownThroughWindow into a TakeOrderedAndProject under
    # the window — per-task k-row pre-reduce, the single window task
    # only ever sees k rows (the global-window analogue of
    # WindowGroupLimit)
    top_plan = (pq_topk(df)
                ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in top_plan


def test_feature_hash_embed_matches_python_and_plan(spark):
    """Hashed vectors equal a plain-Python replication of the portable
    hash -> bucket/sign -> signed sum pipeline; the plan's only exchanges are the bounded (doc_id[, bucket])
    partial-agg shuffles (<= dim rows per doc), never the token
    explode itself."""
    from camelot_spark.tdp.text import feature_hash_embed, feature_hash_vec

    rows = [(1, "aa bb cc aa"), (2, ""), (3, "zebra  moon"),
            (4, "x" * 20 + " yy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def phash(t):
        a = 0
        for c in t[:8]:
            a = (a * 31 + ord(c)) % 1_000_000_007
        return a

    def vec_of(text):
        v = [0] * 64
        for t in text.lower().split(" "):
            if not t:
                continue
            h = phash(t)
            v[h & 63] += 1 - 2 * ((h >> 6) & 1)
        return v

    got = {r["doc_id"]: r["vec_str"]
           for r in feature_hash_embed(df).collect()}
    for doc_id, text in rows:
        want = vec_of(text)
        assert got[doc_id] == ",".join(str(x) for x in want), doc_id

    # r7 shape: the hash+scatter runs inside MapInArrow over the
    # JVM-tokenized arrays, so the only shuffle carries one slim
    # (doc_id, dim longs) row per input row — the aggregate key is
    # doc_id, never the raw token, and there is no join back
    plan = (feature_hash_vec(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInArrow" in plan
    assert "hashpartitioning(tok" not in plan
    assert "Join" not in plan


def test_hashed_topk_plan_is_take_ordered(spark, monkeypatch):
    from camelot_spark.tdp import text
    from camelot_spark.tdp.text import hashed_topk

    df = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} alpha") for i in range(30)],
        "doc_id long, text string")
    monkeypatch.setattr(text, "_TEXT_TOP_K", 5)  # the product's 10 ranks 10
    out = hashed_topk(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = out.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    # distances non-decreasing, ties broken by doc_id
    dists = [(r["dist"], r["doc_id"]) for r in rows]
    assert dists == sorted(dists)


def test_write_training_shards_deterministic(spark, tmp_path, monkeypatch):
    """The shard writer's output order is a pure function of doc_id:
    writing the same corpus from two different input partitionings
    yields identical per-shard row sequences, each sorted by
    order_key."""
    from camelot_spark.sinks import write_training_shards
    from camelot_spark.tdp import sampling
    from camelot_spark.tdp.sampling import shuffle_shards

    rows = [(i, f"doc {i}") for i in range(200)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(7)
    df2 = spark.createDataFrame(list(reversed(rows)),
                                "doc_id long, text string").repartition(3)

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(df1, p1, n_shards=8, epoch=0)
    write_training_shards(df2, p2, n_shards=8, epoch=0)

    monkeypatch.setattr(sampling, "_N_SHARDS", 8)  # the writer's n_shards
    key = {r["doc_id"]: (r["shard"], r["order_key"])
           for r in shuffle_shards(
               spark.createDataFrame(rows, "doc_id long, text string")).collect()}

    import pyarrow.parquet as pq
    import glob as g
    for shard in range(8):
        seqs = []
        for p in (p1, p2):
            files = sorted(g.glob(f"{p}/shard={shard}/*.parquet"))
            ids = []
            for f in files:
                ids += pq.read_table(f, columns=["doc_id"])["doc_id"] \
                    .to_pylist()
            seqs.append(ids)
        assert seqs[0] == seqs[1], shard
        # in-shard order == order_key order; shard assignment honored
        oks = [key[i][1] for i in seqs[0]]
        assert oks == sorted(oks), shard
        assert all(key[i][0] == shard for i in seqs[0]), shard
    # every doc lands in exactly one shard, and exactly the expected
    # shard dirs exist (each expected shard is non-empty on disk)
    assert sorted(i for s in range(8)
                  for f in g.glob(f"{p1}/shard={s}/*.parquet")
                  for i in pq.read_table(f, columns=["doc_id"])["doc_id"]
                  .to_pylist()) == [r[0] for r in rows]
    expected_shards = {v[0] for v in key.values()}
    on_disk = {s for s in range(8) if g.glob(f"{p1}/shard={s}/*.parquet")}
    assert on_disk == expected_shards


def test_shard_high_bits_uniform_on_structured_ids(spark, monkeypatch):
    """Multiply-shift sharding stays uniform on a structured id space:
    an all-even corpus must fill ALL shards (the low-bits form
    ``h % n`` collapses to an affine map of doc_id mod n and fills
    only half), and shard/order_key must not be affinely related."""
    from camelot_spark.tdp import sampling
    from camelot_spark.tdp.sampling import shuffle_shards

    rows = [(2 * i, "x") for i in range(512)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(sampling, "_N_SHARDS", 8)
    out = shuffle_shards(df).collect()
    assert {r["shard"] for r in out} == set(range(8))
    # order_key minus the shard hash is NOT constant (different
    # multiplier, not an affine re-salt of the same hash)
    K, P2, salt = 2654435761, 2246822519, 50923
    diffs = {(r["order_key"] - (r["doc_id"] * K + salt)) % 4294967296
             for r in out[:50]}
    assert len(diffs) > 1


def test_feature_hash_embed_null_text_is_zero_vector(spark):
    from camelot_spark.tdp.text import feature_hash_embed, hashed_topk

    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, None), (2, "alpha gamma")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in feature_hash_embed(df).collect()}
    assert rows[1]["vec_str"] == ",".join(["0"] * 64)
    assert rows[1]["norm_sq"] == 0 and rows[1]["nnz"] == 0
    # and the NULL doc gets a real (not NULL-first) distance in topk
    top = hashed_topk(df).collect()
    assert all(r["dist"] is not None for r in top)


def test_portable_token_hash_flat_equals_reference(spark):
    """The flat branch-on-length Horner hash equals the original
    aggregate-over-split-chars fold for every length 0-10 and
    non-ASCII codepoints, and propagates NULL tokens as NULL."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp.text import portable_token_hash

    def reference(t):
        return F.aggregate(
            F.split(F.substring(t, 1, 8), ""), F.lit(0).cast("long"),
            lambda a, c: (a * 31 + F.coalesce(F.ascii(c), F.lit(0)))
            % 1_000_000_007,
        )

    toks = ["", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
            "abcdefgh", "abcdefghi", "abcdefghij", "é", "é⊕", "日本語テスト漢字拡張",
            "\U0010FFFF" * 9, "Zz0!~ \t.", None]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    rows = df.select(
        portable_token_hash(F.col("tok")).alias("flat"),
        reference(F.col("tok")).alias("ref"),
        "tok").collect()
    for r in rows:
        assert r["flat"] == r["ref"], r["tok"]
    assert [r["flat"] for r in rows if r["tok"] is None] == [None]


def test_shard_epoch_reshuffles_deterministically(spark, monkeypatch):
    """The shard writer's epoch 0 is byte-identical to shuffle_shards'
    assignment (oracles unchanged); a different epoch yields a
    genuinely different INDUCED shuffle — shard membership moves for a large fraction of
    docs and the per-shard document sequences change — not merely
    shifted raw order_key values (an additive re-salt is affine: it
    preserves shard high bits and induced order, which is the bug
    this test exists to keep out)."""
    from pyspark.sql import functions as F

    from camelot_spark.tdp import sampling
    from camelot_spark.tdp.sampling import (_epoch_mults, order_key_expr,
                                            shard_expr, shuffle_shards)

    df = spark.createDataFrame([(i, "x") for i in range(300)],
                               "doc_id long, text string")

    def induced(epoch):
        # the per-epoch expressions sinks.write_training_shards applies
        m1, m2 = _epoch_mults(epoch)
        rows = df.select(F.col("doc_id"), shard_expr(8, mult=m1).alias("shard"),
                         order_key_expr(mult=m2).alias("order_key")).collect()
        seq = {}
        for r in sorted(rows, key=lambda r: (r["order_key"], r["doc_id"])):
            seq.setdefault(r["shard"], []).append(r["doc_id"])
        return seq

    base, e0 = induced(0), induced(0)
    monkeypatch.setattr(sampling, "_N_SHARDS", 8)
    plain = {}
    for r in sorted(shuffle_shards(df).collect(),
                    key=lambda r: (r["order_key"], r["doc_id"])):
        plain.setdefault(r["shard"], []).append(r["doc_id"])
    assert plain == base
    e1, e1b = induced(1), induced(1)
    assert e0 == base
    assert e1 == e1b                          # per-epoch determinism
    # shard membership actually moves (affine re-salt moved ~0%)
    moved = sum(1 for s in base for d in base[s]
                if d not in e1.get(s, []))
    assert moved > 100                        # > 1/3 of 300 docs
    # and the per-shard sequences are not the base sequences
    assert all(e1.get(s) != base[s] for s in base)
    assert set(e1) == set(range(8))           # still uniform


def test_mine_hard_negatives_excludes_dups_and_ranks_by_overlap(spark, monkeypatch):
    """Near-dups of the query (dist <= dup_dist) are never negatives;
    low-overlap docs are filtered; rank = overlap desc, dist asc."""
    from camelot_spark.tdp import text
    from camelot_spark.tdp.text import mine_hard_negatives

    rows = [
        (0, "alpha beta gamma delta epsilon"),       # query
        (1, "alpha beta gamma delta epsilon"),       # exact dup: dist 0
        (2, "alpha beta gamma delta zeta"),          # 4-overlap, far?
        (3, "alpha beta gamma eta theta"),           # 3-overlap
        (4, "alpha iota kappa lam mu"),              # 1-overlap: dropped
        (5, "nu xi omicron pi rho"),                 # 0-overlap: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # radius 0: the product's 8 also drops doc 2 (one token off the query)
    monkeypatch.setattr(text, "_DUP_DIST", 0)
    got = mine_hard_negatives(df).orderBy("rank").collect()
    ids = [r["doc_id"] for r in got]
    assert 1 not in ids          # exact dup excluded (dist 0 not > 0)
    assert 4 not in ids and 5 not in ids
    assert ids[0] == 2           # highest overlap first
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
    assert all(r["overlap"] >= 3 for r in got)

    plan = (mine_hard_negatives(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
