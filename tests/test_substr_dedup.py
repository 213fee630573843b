"""Exact duplicate-substring detection, checked against a brute-force
reference implementation (dict of window -> global-first occurrence,
then interval merge) on crafted and randomized corpora."""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from camelot_spark.tdp.substr_dedup import (duplicate_substring_spans,
                                            duplicate_substring_stats)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _reference_spans(rows, k):
    """Brute force: global-first occurrence per k-window; every other
    occurrence is a duplicate window; merge overlapping windows."""
    first = {}
    for doc_id, text in sorted(rows):
        for pos in range(len(text) - k + 1):
            first.setdefault(text[pos:pos + k], (doc_id, pos))
    dup = {}
    for doc_id, text in rows:
        for pos in range(len(text) - k + 1):
            if first[text[pos:pos + k]] != (doc_id, pos):
                dup.setdefault(doc_id, []).append(pos)
    out = set()
    for doc_id, positions in dup.items():
        positions.sort()
        start, end, n = positions[0], positions[0] + k, 1
        for p in positions[1:]:
            if p <= end:
                end, n = p + k, n + 1
            else:
                out.add((doc_id, start, end, n))
                start, end, n = p, p + k, 1
        out.add((doc_id, start, end, n))
    return out


def _spark_spans(spark, rows, k, portable):
    return {(r["doc_id"], r["dup_start"], r["dup_end"], r["n_windows"])
            for r in duplicate_substring_spans(
                _docs(spark, rows), k=k, portable=portable).collect()}


@pytest.mark.parametrize("portable", [True, False])
def test_shared_boilerplate_matches_reference(spark, portable):
    """A license block shared by three docs at different offsets, plus
    a clean doc: regions match the brute-force reference exactly, the
    global-first copy is not reported, and the clean doc is absent."""
    lic = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz01234567"
    rows = [
        (1, "".join("<a%d>" % i for i in range(6)) + lic),
        (2, lic + "".join("<b%d>" % i for i in range(10))),
        (3, "<c0><c1><c2>" + lic + "<d0><d1><d2>"),
        (4, "".join("<e%d>" % i for i in range(16))),
    ]
    got = _spark_spans(spark, rows, 8, portable)
    want = _reference_spans(rows, 8)
    assert got == want
    dup_docs = {d for d, *_ in got}
    assert 4 not in dup_docs and {2, 3} <= dup_docs


def test_randomized_corpus_matches_reference(spark):
    """Randomized corpus with planted repeats: exact agreement with the
    reference on every region, across several seeds."""
    for seed in (3, 11):
        rng = random.Random(seed)
        alphabet = "abcdefghij"
        blocks = ["".join(rng.choice(alphabet) for _ in range(30))
                  for _ in range(3)]
        rows = []
        for doc_id in range(12):
            parts = ["".join(rng.choice(alphabet) for _ in range(rng.randint(10, 60)))]
            if rng.random() < 0.7:
                parts.append(rng.choice(blocks))
            if rng.random() < 0.3:
                parts.append(rng.choice(blocks))
            rows.append((doc_id, "".join(parts)))
        got = _spark_spans(spark, rows, 12, portable=True)
        assert got == _reference_spans(rows, 12), seed


def test_stats_rollup_total_function(spark):
    lic = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdef"  # 32 chars, repeat-free
    rows = [(0, "<x0><x1>" + lic), (1, lic + "<y0><y1>"),
            (2, "".join("<z%d>" % i for i in range(18)))]
    docs = _docs(spark, rows)
    spans = duplicate_substring_spans(docs, k=12, portable=True)
    out = {r["doc_id"]: r for r in duplicate_substring_stats(
        docs, spans=spans).collect()}
    assert set(out) == {0, 1, 2}                    # total function
    assert out[2]["n_regions"] == 0 and out[2]["dup_ppm"] == 0
    assert out[0]["n_regions"] == 0                 # canonical copy
    assert out[1]["dup_chars"] == 32                # whole block dup'd
    assert out[1]["dup_ppm"] == 32 * 1_000_000 // out[1]["chars"]


def test_short_docs_produce_no_windows(spark):
    rows = [(1, "tiny"), (2, "tiny")]
    assert duplicate_substring_spans(_docs(spark, rows), k=40,
                                     portable=True).count() == 0


@pytest.mark.parametrize("portable", [True, False])
def test_strip_produces_reference_clean_text(spark, portable):
    """strip_duplicate_substrings cuts exactly the reference regions:
    cleaned text equals the brute-force surgery, canonical copies and
    clean docs pass through verbatim."""
    from camelot_spark.tdp.substr_dedup import strip_duplicate_substrings

    lic = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz01234567"
    rows = [
        (1, "".join("<a%d>" % i for i in range(6)) + lic),
        (2, lic + "".join("<b%d>" % i for i in range(10))),
        (3, "<c0><c1><c2>" + lic + "<d0><d1><d2>"),
        (4, "".join("<e%d>" % i for i in range(16))),
    ]
    regions = {}
    for doc_id, s, e, _ in _reference_spans(rows, 8):
        regions.setdefault(doc_id, []).append((s, e))
    want = {}
    for doc_id, text in rows:
        kept, prev = [], 0
        for s, e in sorted(regions.get(doc_id, [])):
            kept.append(text[prev:s])
            prev = e
        kept.append(text[prev:])
        want[doc_id] = ("".join(kept),
                        sum(e - s for s, e in regions.get(doc_id, [])),
                        len(regions.get(doc_id, [])))
    docs = _docs(spark, rows)
    spans = duplicate_substring_spans(docs, k=8, portable=portable)
    out = {r["doc_id"]: (r["clean_text"], r["removed_chars"], r["n_regions"])
           for r in strip_duplicate_substrings(docs, spans=spans).collect()}
    assert out == want
    assert out[1][1] == 0 and out[4][1] == 0      # canonical + clean intact
    assert lic not in out[2][0] and lic not in out[3][0]
