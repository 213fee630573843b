"""BPE merge learning vs a direct Python reference of the same
contract (word-internal, guard tokens, deterministic tie-break,
left-to-right literal replacement)."""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from camelot_spark.tdp.bpe import bpe_train


def _reference_bpe(texts, n_merges):
    states = []
    for t in texts:
        words = [w for w in re.split("[^a-z]+", t.lower()) if w]
        states.append(" " + " | ".join(" ".join(w) for w in words) + " ")
    out = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for s in states:
            toks = [x for x in s.split(" ") if x]
            for l, r in zip(toks, toks[1:]):
                if l != "|" and r != "|":
                    counts[(l, r)] = counts.get((l, r), 0) + 1
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rank, l, r, c))
        states = [s.replace(f" {l} {r} ", f" {l}{r} ") for s in states]
    return out


def test_bpe_matches_python_reference(spark):
    texts = [
        "the theme of the thesis is the theory",
        "other things gather there then",
        "the weather rather bothers them",
        "this is the thin thread of the story",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [(r["merge_rank"], r["left"], r["right"], r["pair_count"])
           for r in bpe_train(docs).collect()]
    want = _reference_bpe(texts, 8)
    assert got == want
    # 'th' and then 'the' should be learned early on this corpus
    merged = ["".join((l, r)) for _, l, r, _ in got]
    assert "th" in merged[:2] and "the" in merged[:4]


def test_bpe_stops_when_no_pairs_remain(spark):
    docs = spark.createDataFrame([(0, "ab ab ab")], "doc_id long, text string")
    got = bpe_train(docs).collect()
    # one merge (a,b) exhausts every pair (single guard-separated words)
    assert len(got) == 1
    assert (got[0]["left"], got[0]["right"], got[0]["pair_count"]) == ("a", "b", 3)


def test_bpe_token_counts_shrink_with_merges(spark):
    """Encoding with learned merges reduces token counts below the raw
    character count, and matches a reference encode."""
    texts = ["the theme thesis", "the theory there", "then the thing"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    from camelot_spark.tdp.bpe import bpe_token_counts

    got = {r["doc_id"]: r["n_tokens"]
           for r in bpe_token_counts(docs, bpe_train(docs)).collect()}

    # reference: replay training, then count tokens of the final state
    import re
    states = {}
    for i, t in enumerate(texts):
        words = [w for w in re.split("[^a-z]+", t.lower()) if w]
        states[i] = " " + " | ".join(" ".join(w) for w in words) + " "
    for _ in range(8):
        counts = {}
        for s in states.values():
            toks = [x for x in s.split(" ") if x]
            for l, r in zip(toks, toks[1:]):
                if l != "|" and r != "|":
                    counts[(l, r)] = counts.get((l, r), 0) + 1
        if not counts:
            break
        (l, r), _c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        states = {k: s.replace(f" {l} {r} ", f" {l}{r} ")
                  for k, s in states.items()}
    want = {k: len([x for x in s.split(" ") if x and x != "|"])
            for k, s in states.items()}
    assert got == want
    raw = {i: len(t.replace(" ", "")) for i, t in enumerate(texts)}
    assert all(got[i] < raw[i] for i in got)  # merges actually compress


def test_bpe_token_counts_rejects_merge_rows_that_break_the_state(spark):
    """A merge side that is empty, or holds the ' ' separator or the '|'
    guard, raises and names the row instead of silently producing
    tokens the pair count cannot see."""
    import pytest

    from camelot_spark.tdp.bpe import bpe_token_counts

    docs = spark.createDataFrame([(0, "the theme")], "doc_id long, text string")
    for left, right in (("", "h"), ("t", ""), ("t h", "e"), ("t", "|"), ("a|b", "c")):
        merges = spark.createDataFrame(
            [(1, "t", "h", 2), (2, left, right, 1)],
            "merge_rank int, left string, right string, pair_count long")
        with pytest.raises(ValueError, match=f"merge_rank=2, left='{re.escape(left)}'"):
            bpe_token_counts(docs, merges)
