"""The ONE portable char-fold hash primitive shared by the oracled
operators (KMV distinct, Bloom decontamination, Rocchio feature
buckets): fold = ((a·31 + ascii(c)) mod M) over the string's chars,
optionally prime-mixed before a small output modulus so the low bits
of the big-prime residue don't leak structure (the decontaminate_bloom
round-5 lesson: reducing an affine family of the SAME residue mod a
power of two collapses k hashes to one fingerprint).

Kept in one place after the third copy appeared — a fix to the fold
(e.g. the prefix-collapse bug class) must land once. The DuckDB
oracles spell the same fold as ``list_reduce`` over ``ord`` of each
char.
"""

from __future__ import annotations

from pyspark.sql import functions as F

POLY_M = 1_000_000_007
MIX_A = 2654435761
MIX_B = 40503


def char_fold(col, modulus: int = POLY_M):
    """Spark expression: polynomial fold over ALL chars of ``col``
    modulo ``modulus`` (non-negative by construction, so DIV/% agree
    across engines)."""
    return F.aggregate(
        F.split(col, ""), F.lit(0).cast("long"),
        lambda a, c: (a * 31 + F.coalesce(F.ascii(c), F.lit(0))) % modulus,
    )


def prime_mix(h, out_modulus: int):
    """((h·A + B) mod P) mod m — decorrelates the big-prime residue
    before a small modulus."""
    return ((h * MIX_A + MIX_B) % POLY_M) % out_modulus
