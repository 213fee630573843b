"""Round-4 fixes: verified near-dup curation, degenerate-corpus BPE
oracle, connected-components convergence reporting, JPEG marker-scan
robustness."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


NEAR_A = ("the quick brown fox jumps over the lazy dog while seventeen "
          "sparrows observe the entire scene from a nearby oak branch")
NEAR_B = ("the quick brown fox jumps over the lazy dog while eighteen "
          "sparrows observe the entire scene from a nearby oak branch")
FAR_C = "completely unrelated text about submarine hydraulics and pressure"
FAR_D = "a third topic entirely: medieval bread prices in lowland markets"


def _docs(spark):
    rows = [(1, NEAR_A), (2, NEAR_B), (3, FAR_C), (4, FAR_D)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_verify_pairs_jaccard_drops_banding_false_positives(spark):
    """A candidate list containing one true near-dup pair and one
    dissimilar (banding-collision) pair keeps only the true pair."""
    from camelot_spark.tdp.dedup import verify_pairs_jaccard

    cand = spark.createDataFrame([(1, 2), (3, 4)], "a_id long, b_id long")
    out = verify_pairs_jaccard(_docs(spark), cand, threshold_x10k=7000).collect()
    assert [(r["a_id"], r["b_id"]) for r in out] == [(1, 2)]
    assert out[0]["jaccard_x10k"] >= 7000


def test_dedup_groups_verified_keeps_true_groups(spark):
    """dedup_groups with verification still groups genuine near-dups
    (canonical = min doc_id) and leaves dissimilar docs singleton."""
    from camelot_spark.tdp.dedup import dedup_groups

    groups = {r["doc_id"]: (r["component"], r["is_canonical"])
              for r in dedup_groups(_docs(spark),
                                    verify_threshold_x10k=7000).collect()}
    # docs 1 and 2 are near-identical -> same component, 1 canonical
    assert groups[1] == (1, 1)
    assert groups[2] == (1, 0)
    # any other doc that surfaced as an LSH candidate must be its own
    # canonical singleton after verification
    for doc_id, (comp, canon) in groups.items():
        if doc_id not in (1, 2):
            assert comp == doc_id and canon == 1


def test_curate_dedup_near_verified_end_to_end(spark):
    """The curation delete step keeps dissimilar docs even when they are
    LSH candidates, and drops only verified near-dups."""
    from jobs.curate_job import apply_steps, parse_args

    rows = [(1, NEAR_A, "en", "s", 100), (2, NEAR_B, "en", "s", 100),
            (3, FAR_C, "en", "s", 100), (4, FAR_D, "en", "s", 100)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    args = parse_args(["--input", "unused", "--output", "unused",
                       "--steps", "dedup_near"])
    curated, report = apply_steps(spark, docs, args)
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert ids == {1, 3, 4}
    assert report[-1]["docs"] == 3


def _bpe_counts_and_twin(spark, rows):
    import duckdb

    from camelot_spark.tdp import bpe

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["n_tokens"])
        for r in bpe.bpe_token_counts(docs, bpe.bpe_train(docs)).collect())
    con = duckdb.connect()
    con.execute("create table documents(doc_id bigint, text varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    return got, sorted(map(tuple, con.execute(bpe.BPE_TOKEN_COUNTS_SQL).fetchall()))


def test_bpe_oracle_degenerate_corpus_matches(spark):
    """A corpus that exhausts learnable merges before round 8 (single-
    letter words only) must still hash-match its DuckDB twin: the CTE
    rounds pass state through unchanged when a round's argmax is empty,
    mirroring the Spark loop's early break. The twin (the reference)
    also matches with edge rows added: an empty text, mixed case with
    digits, and single letters."""
    rows = [(0, "a b c d"), (8, "a b a b"), (16, "c a c a")]
    edge = [(24, ""), (32, "lower UPPER mixed42case"), (40, "a b c d e f")]
    got_edge, want_edge = _bpe_counts_and_twin(spark, rows + edge)
    got_edge, want_edge = dict(got_edge), dict(want_edge)
    # a text with no [a-z] word: Spark counts 0 tokens, while the twin
    # reports NULL (DuckDB 1.0.0's array_to_string of an empty list is
    # NULL); the twin's string is an oracle and is not changed here
    assert got_edge.pop(24) == 0 and want_edge.pop(24) is None
    assert got_edge == want_edge and len(got_edge) == 5
    got, want = _bpe_counts_and_twin(spark, rows)
    assert got == want and len(got) == 3
    # sanity on the values: merges do fire on the repeated-pair docs
    counts = dict(got)
    assert counts[0] == 4          # no merges applicable -> 4 tokens


def test_connected_components_raises_when_not_converged(spark, monkeypatch):
    """Reaching the round cap before the label fixpoint must raise, not
    return silently split components."""
    from camelot_spark.tdp import dedup

    monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", 2)
    edges = [(i, i + 1) for i in range(0, 6)]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(df)


def test_jpeg_marker_scan_handles_fill_bytes_and_standalone_markers():
    """0xFF fill padding between segments and standalone TEM markers
    (T.81 B.1.1.2) must not derail the segment scan."""
    import numpy as np

    from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

    img = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 251
    payload = encode_jpeg(img)
    base = decode_jpeg(payload)
    # inject fill bytes + a TEM marker right after SOI
    patched = payload[:2] + b"\xff\xff\xff\x01" + payload[2:]
    out = decode_jpeg(patched)
    assert np.array_equal(out, base)


def test_link_rank_matches_python_reference(spark):
    """Integer PageRank against a driver-side reference implementation
    on a small crafted graph, plus ordering sanity (hub outranks
    leaves)."""
    from camelot_spark.tdp.ranking import link_rank

    edges = [(1, 0), (2, 0), (3, 0), (4, 2), (0, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["doc_id"]: r["rank_ppm"] for r in link_rank(df).collect()}

    MU, d = 1_000_000, 85
    base = MU * (100 - d) // 100
    nodes = {0, 1, 2, 3, 4}
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    rank = {n: MU for n in nodes}
    for _ in range(8):
        nxt = {n: base for n in nodes}
        for s, ts in out.items():
            c = (rank[s] * d // 100) // len(ts)
            for t in ts:
                nxt[t] += c
        rank = nxt
    assert got == rank
    # in-cycle nodes (0<->2) accumulate mass; pure leaves sit at base
    assert min(got[0], got[2]) > 10 * base
    assert got[1] == got[3] == got[4] == base


def test_jpeg_sof2_without_scans_raises():
    """A truncated progressive stream (SOF2 + EOI, zero scans) must
    raise, not return a uniform gray image."""
    import struct

    from camelot_spark.tdp.jpeg_codec import (_forward_blocks, _headers,
                                              _ACP_BITS, _ACP_VALS,
                                              decode_jpeg)
    import numpy as np

    zzs, qts, gray, h, w = _forward_blocks(np.zeros((8, 8), np.uint8), 90, None)
    out = _headers(0xC2, zzs, qts, gray, h, w, _ACP_BITS, _ACP_VALS, [(1, 1)])
    out += b"\xff\xd9"
    with pytest.raises(ValueError, match="no SOS"):
        decode_jpeg(bytes(out))


def test_jpeg_non_interleaved_baseline_decodes_exactly():
    """T.81 A.2.2 non-interleaved layout (one SOS per component, raster
    block order over the component's native grid) decodes bit-exactly
    like the interleaved stream of the same coefficients — including
    subsampled layouts and subset-interleaved (split) scan scripts."""
    import numpy as np

    from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    for shape, ss in [((16, 16, 3), "4:4:4"), ((24, 40, 3), "4:2:0"),
                      ((17, 13, 3), "4:2:2"), ((9, 11, 3), "4:2:0")]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        inter = decode_jpeg(encode_jpeg(img, quality=85, subsampling=ss))
        nonint = decode_jpeg(encode_jpeg(img, quality=85, subsampling=ss,
                                         non_interleaved=True))
        assert np.array_equal(inter, nonint), (shape, ss)

    # subset-interleaved scripts (luma alone, then the chroma pair as
    # one interleaved subset scan) decode exactly too
    rng2 = np.random.default_rng(17)
    for shape, ss in [((16, 16, 3), "4:4:4"), ((24, 40, 3), "4:2:0")]:
        img = rng2.integers(0, 256, shape, dtype=np.uint8)
        base = decode_jpeg(encode_jpeg(img, quality=85, subsampling=ss))
        split = decode_jpeg(encode_jpeg(img, quality=85, subsampling=ss,
                                        split_scans=True))
        assert np.array_equal(split, base), (shape, ss)


def test_jpeg_restart_markers_in_all_scan_layouts():
    """restart_interval must compose with every scan layout (the DRI
    segment promises RSTn markers; missing ones crash the decoder's
    resync scan): interleaved counts MCUs, non-interleaved and split
    scans count blocks per scan."""
    import numpy as np

    from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    for ss in ("4:4:4", "4:2:0"):
        base = decode_jpeg(encode_jpeg(img, quality=85, subsampling=ss))
        for kw in ({"non_interleaved": True}, {"split_scans": True}, {}):
            got = decode_jpeg(encode_jpeg(img, quality=85, subsampling=ss,
                                          restart_interval=3, **kw))
            assert np.array_equal(got, base), (ss, kw)
