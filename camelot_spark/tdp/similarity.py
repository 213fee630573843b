"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — a broadcast of the
  query vector against a single scan; dot products via zip_with +
  aggregate (JVM-side, no UDF).
- LSH-bucketed variant (random-hyperplane signs): the scale path —
  candidates share a signature bucket, so the 100 TB case does a
  shuffle on small keys instead of an all-pairs cross join.
- IVF-style variant: coarse quantization by nearest of K fixed pivot
  vectors; probe only the query's cell.

Cosines are computed in DOUBLE with identical left-to-right summation
order in the DuckDB oracles.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .arrow_seams import by_length, fold_dot, fold_norm, list_parts

# One value per setting, pinned by the twins: the query vector and
# depth of every top-k search; the ANN index's IVF cells and probes
# and the semantic operators' cell count; the near-dup banding (4
# bands of 8 planes) with its verify floor and hot-bucket cap.
_QUERY_VEC_ID, _TOP_K = 0, 10
_IVF_CELLS, _IVF_PROBES, _SEMANTIC_CELLS = 8, 2, 16
_NEARDUP_PLANES, _NEARDUP_BANDS, _NEARDUP_BUCKET_CAP = 32, 4, 10000
_SEMDEDUP_THRESHOLD_X10K, _SEMDEDUP_CELL_CAP = 3000, 10000
_BALANCED_QUOTA = 8


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(embeddings: DataFrame) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector (brute force).

    The query vector rides in the task closure (1 row, collected —
    driver-bounded); rank by (cos desc, vec_id) for a deterministic
    result. Output (vec_id, rank) — integer-typed.

    r7: the per-row interpreted dot/norm folds moved to mapInArrow
    numpy (``_np_cos_to_queries``) — bit-identical cosines; the rank
    window stays in SQL, so ordering semantics (NaN-first desc, NULLs
    last) are untouched. Multiple/zero rows matching the query id
    reproduce the old crossJoin cardinality."""
    q_rows = embeddings.where(F.col("vec_id") == _QUERY_VEC_ID) \
        .select("embedding").collect()
    qs = [None if r["embedding"] is None
          else [float(v) for v in r["embedding"]] for r in q_rows]
    scored = _np_cos_to_queries(
        embeddings.where(F.col("vec_id") != _QUERY_VEC_ID), qs)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
        .select(F.col("vec_id").cast("bigint").alias("vec_id"), F.col("rank").cast("bigint").alias("rank"))
    )


def _np_cos_to_queries(embeddings: DataFrame, qs: list) -> DataFrame:
    """(vec_id, cos) rows — each input row scored against EVERY query
    vector in ``qs`` (the old broadcast-crossJoin cardinality), cosines
    folded like ``_dot``/``_norm`` (``arrow_seams``), denominator
    norm_x·norm_q then one division. A NULL query or NULL/length-
    mismatched embedding scores NULL, like the expression form's NULL
    propagation."""
    import numpy as np
    import pyarrow as pa

    nq = len(qs)
    q_vecs = [None if q is None else np.asarray(q, dtype=np.float64)
              for q in qs]

    def batches(it):
        for batch in it:
            ids = batch.column("vec_id").cast(pa.int64())
            n = len(ids)
            cos = np.full((nq, n), np.nan)
            ok = np.zeros((nq, n), dtype=bool)
            offs, vals, lens, valid = list_parts(batch.column("embedding"))
            for L, rows, X in by_length(offs, vals, lens, valid):
                # length-matched queries only: NULL score otherwise
                js = [j for j, q in enumerate(q_vecs)
                      if q is not None and len(q) == L]
                if not js:
                    continue
                Q = np.stack([q_vecs[j] for j in js])
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos[np.ix_(js, rows)] = (
                        fold_dot(X, Q.T)
                        / (fold_norm(X)[:, None] * fold_norm(Q)[None, :])).T
                ok[np.ix_(js, rows)] = True
            yield pa.RecordBatch.from_arrays(
                [ids.take(np.tile(np.arange(n), nq)),
                 pa.array(cos.ravel(), pa.float64(), mask=~ok.ravel())],
                names=["vec_id", "cos"])

    return embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    ).mapInArrow(batches, "vec_id bigint, cos double")


def embedding_neardup_adjacent(embeddings: DataFrame) -> DataFrame:
    """Cosine between consecutive vec_ids — embedding near-dup check.
    Output floor(cos*10000) as BIGINT."""
    e = embeddings.select(F.col("vec_id").cast("bigint").alias("id"), "embedding")
    a = e.alias("a")
    b = e.select((F.col("id") - 1).alias("id"), F.col("embedding").alias("emb_b")).alias("b")
    pairs = a.join(b, "id")
    cos = _dot(F.col("embedding"), F.col("emb_b")) / (
        _norm(F.col("embedding")) * _norm(F.col("emb_b"))
    )
    return pairs.select(
        F.col("id").alias("a_id"),
        (F.col("id") + 1).alias("b_id"),
        F.floor(cos * 10000).cast("bigint").alias("cos_x10k"),
    )


@functools.cache
def _lsh_plane_weights(dim: int, n_planes: int):
    """W[i, b] = ((i·2654435761 + b·40503 + 12345) mod 7) − 3 as
    float64, read-only: a reused Python worker builds each table once."""
    import numpy as np

    i = np.arange(dim, dtype=np.int64)[:, None]
    b = np.arange(n_planes, dtype=np.int64)[None, :]
    w = (((i * 2654435761 + b * 40503 + 12345) % 7) - 3).astype(np.float64)
    w.flags.writeable = False
    return w


def lsh_signatures(embeddings: DataFrame, n_planes: int) -> DataFrame:
    """Random-hyperplane LSH signature: bit b = sign of <v, h_b> where
    h_b is a deterministic pseudo-random hyperplane derived from
    (b, dimension index) via a fixed integer mix — reproducible across
    runs with no stored model.

    r7: computed in ``mapInArrow`` with numpy (guide §4.2 — hand whole
    batches to vectorized native code instead of interpreted HOF
    lambdas; the per-plane aggregate folds were ~1.4 s of every
    consumer at sf0.1, this is 0.19 s). The projections are
    ``arrow_seams.fold_dot``, Spark's fold order, so every projection,
    sign and signature is bit-identical to the old expression form;
    NULL/empty embeddings yield sig 0 like the old when(NULL > 0)/
    empty-fold path. Pinned by
    tests/test_round7.py::test_lsh_signatures_numpy_matches_expression.
    """
    import pyarrow as pa

    def batches(it):
        import numpy as np

        for batch in it:
            ids = batch.column("vec_id")
            sigs = np.zeros(len(ids), dtype=np.int64)
            offs, vals, lens, valid = list_parts(batch.column("embedding"))
            for L, rows, X in by_length(offs, vals, lens, valid):
                bits = (fold_dot(X, _lsh_plane_weights(L, n_planes)) > 0
                        ).astype(np.int64)
                s = np.zeros(len(rows), dtype=np.int64)
                for b in range(n_planes):
                    s |= bits[:, b] << b
                sigs[rows] = s
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sigs, pa.int64())],
                names=["vec_id", "lsh_sig"])

    return embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    ).mapInArrow(batches, "vec_id bigint, lsh_sig bigint")


def lsh_topk(embeddings: DataFrame, sigs: DataFrame | None = None) -> DataFrame:
    """ANN top-k: restrict brute-force scoring to vectors whose 16-plane
    LSH signature is within 6 bits of the query's — the bucketed scale
    path (candidate set ≪ corpus).

    ``sigs``: precomputed (vec_id, lsh_sig) signatures to reuse instead
    of recomputing. ``lsh_signatures`` bit b depends only on (b, dim),
    so the low 16 bits of any WIDER signature table are exactly the
    16-plane signature — mask and pass a shared table rather than
    paying the projection fold twice."""
    if sigs is None:
        sigs = lsh_signatures(embeddings, 16)
    q_sig = sigs.where(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("lsh_sig").alias("q_sig")
    )
    cand_ids = (
        sigs.crossJoin(F.broadcast(q_sig))
        .where(F.bit_count(F.col("lsh_sig").bitwiseXOR(F.col("q_sig"))) <= 6)
        .select("vec_id")
    )
    return cosine_topk(embeddings.join(cand_ids, "vec_id"))


def _pivot_hash(id_col):
    """The pivot-selection hash shared by ``_pivot_row`` and
    ``text.hashed_ivf_topk``'s raw-table pre-selection — one definition
    so the two rankings can never drift (the pre-selection feeds this
    ranking a K-doc subset, which is only correct if both use the
    identical hash + tie-break)."""
    return (id_col.cast("bigint") * F.lit(2654435761)
            + F.lit(40503)) % F.lit(1000000007)


def _pivot_row(embeddings: DataFrame, n_cells: int) -> DataFrame:
    """1-row DataFrame holding the K data-derived pivots as an ordered
    array<struct<pid, p_emb>> — deterministic sampled centroids: the K
    vectors with the smallest (vec_id·2654435761 + 40503) mod 1e9+7
    (a seeded hash shuffle, reproducible in DuckDB; no stored model).

    Scale shape: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition top-K then a K-row merge, never a global sort — and
    the result broadcasts as ONE row, so assignment stays a broadcast
    join + per-row array fold."""
    h = _pivot_hash(F.col("vec_id"))
    pivots = (
        embeddings.select("vec_id", "embedding", h.alias("h"))
        .orderBy("h", "vec_id")
        .limit(n_cells)
        .select("h", "vec_id", F.col("embedding").alias("p_emb"))
    )
    # pid = hash rank (1-based); array_sort on the leading (h, vec_id)
    # fields recovers the rank order after collect_list
    return pivots.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "vec_id", "p_emb"))),
            lambda s, i: F.struct((i + 1).alias("pid"), s["p_emb"].alias("p_emb")),
        ).alias("pivots")
    )


def _cos_to(p_emb):
    return _dot(F.col("embedding"), p_emb) / (_norm(F.col("embedding")) * _norm(p_emb))


def _assign_with_embedding(
    embeddings: DataFrame, n_cells: int, with_cos: bool = False
) -> DataFrame:
    """(vec_id, embedding, ivf_cell[, cos]) with ZERO shuffle on the
    vectors: the K pivots ride in the task closure (collected once —
    K ≤ 16 rows, driver-bounded like the BPE argmax) and the
    argmax-cosine cell is computed in the scan's own task — consumers
    that need the vectors alongside their cell (semantic_dedup,
    ivf_topk-style probes) use this instead of joining ``ivf_assign``'s
    output back on vec_id, which would shuffle every embedding.
    ``with_cos`` adds the winning cosine itself.

    r7: the per-row K×dim interpreted cosine fold moved to
    ``mapInArrow``/numpy (guide §4.2), BIT-IDENTICAL by construction:
    dots and norms fold in Spark's order (``arrow_seams``), denominator
    norm_x·norm_p then one division like ``_cos_to``, and the first-max
    argmax (numpy's argmax, first-NaN-wins like Spark's
    array_max/array_position pair on all-NaN zero-norm rows). NULL
    embeddings yield NULL ivf_cell as the old NULL-propagating fold
    did. Pinned by
    tests/test_round7.py::test_assign_with_embedding_numpy_matches_expression."""
    import numpy as np
    import pyarrow as pa

    rows = _pivot_row(embeddings, n_cells).collect()
    pivots = rows[0]["pivots"] if rows else []

    # NULL or ragged pivots reproduce the expression semantics: a
    # zip_with against a length-mismatched/NULL pivot yields a NULL
    # score, which array_max SKIPS — modeled as a -inf sentinel column
    # (cos over finite inputs is finite or NaN, never -inf)
    pv = [None if p["p_emb"] is None else [float(v) for v in p["p_emb"]]
          for p in pivots]
    plens = np.array([-1 if v is None else len(v) for v in pv])
    maxlen = int(plens.max()) if len(plens) and plens.max() > 0 else 0
    P = np.zeros((len(pv), maxlen), dtype=np.float64)
    for j, v in enumerate(pv):
        if v:
            P[j, :len(v)] = v
    p_norms = fold_norm(P)  # zero padding leaves each norm unchanged
    emb_type = embeddings.schema["embedding"].dataType.simpleString()

    def batches(it):
        for batch in it:
            ids = batch.column("vec_id")
            emb = batch.column("embedding")
            n = len(ids)
            cell = np.zeros(n, dtype=np.int32)
            cosv = np.full(n, np.nan)
            valid = np.zeros(n, dtype=bool)
            offs, vals, lens, notnull = list_parts(emb)
            for L, rows_, X in by_length(offs, vals, lens, notnull):
                ok = plens == L  # length-matched, non-NULL pivots
                if not ok.any():
                    continue  # every score NULL -> NULL cell
                with np.errstate(divide="ignore", invalid="ignore"):
                    sc = fold_dot(X, P[:, :L].T) / (
                        fold_norm(X)[:, None] * p_norms[None, :])
                sc[:, ~ok] = -np.inf  # NULL-score columns: skipped
                am = np.argmax(sc, axis=1)
                cell[rows_] = am
                cosv[rows_] = sc[np.arange(len(rows_)), am]
                valid[rows_] = True
            arrs = [ids.cast(pa.int64()), emb,
                    pa.array(cell, pa.int32(), mask=~valid)]
            names = ["vec_id", "embedding", "ivf_cell"]
            if with_cos:
                arrs.append(pa.array(cosv, pa.float64(), mask=~valid))
                names.append("cos")
            yield pa.RecordBatch.from_arrays(arrs, names=names)

    schema = f"vec_id bigint, embedding {emb_type}, ivf_cell int"
    if with_cos:
        schema += ", cos double"
    return embeddings.select("vec_id", "embedding").mapInArrow(
        batches, schema)


def ivf_assign(embeddings: DataFrame) -> DataFrame:
    """IVF coarse assignment: cell = argmax cosine against K data-derived
    pivots (first max wins ties). One broadcast of the K-pivot row +
    a per-row JVM array fold — zero shuffle on the vectors."""
    return _assign_with_embedding(embeddings, _IVF_CELLS).select(
        "vec_id", "ivf_cell")


ANN_TOPK_SQL = """
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)))
         / ( sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(q_emb,     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) )
           AS cos
  FROM embeddings, q WHERE vec_id <> 0)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 10
"""

NEARDUP_SQL = """
WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id, embedding FROM embeddings)
SELECT a.id AS a_id, a.id + 1 AS b_id,
       CAST(FLOOR(
         list_sum(list_transform(a.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / ( sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) )
         * 10000) AS BIGINT) AS cos_x10k
FROM e a JOIN e b ON b.id = a.id + 1
"""


def ivf_topk(embeddings: DataFrame) -> DataFrame:
    """Multi-probe IVF: coarse-assign every vector to its nearest data-
    derived pivot, then brute-force rank only the vectors in the query's
    ``_IVF_PROBES`` nearest cells — the inverted-file ANN plan shape
    (candidate set ≈ probes·corpus/n_cells; the cell filter prunes
    before any expensive scoring, and probing >1 cell recovers the
    neighbors that straddle a cell boundary)."""
    prow = _pivot_row(embeddings, _IVF_CELLS)
    assigned = ivf_assign(embeddings)
    # query's top-P cells by pivot cosine (desc, pivot index tie-break)
    q = embeddings.where(F.col("vec_id") == _QUERY_VEC_ID).crossJoin(F.broadcast(prow))
    ranked = F.array_sort(
        F.transform(
            F.col("pivots"),
            lambda p, i: F.struct((-_cos_to(p["p_emb"])).alias("neg"), i.alias("idx")),
        )
    )
    q_cells = q.select(
        F.explode(
            F.transform(F.slice(ranked, 1, _IVF_PROBES), lambda s: s["idx"].cast("int"))
        ).alias("q_cell")
    )
    cand_ids = assigned.join(
        F.broadcast(q_cells), assigned.ivf_cell == q_cells.q_cell, "left_semi"
    ).select("vec_id")
    return cosine_topk(embeddings.join(cand_ids, "vec_id"))


# shared CTE text: data-derived pivots + cosine scores per vector
def _ivf_scores_cte(n_cells: int) -> str:
    """The shared pivots+scores CTE with a configurable pivot count.
    Built from a template placeholder — a string-replace against the
    finished CTE would silently no-op if the QUALIFY text drifted."""
    return _IVF_SCORES_TMPL.format(n_cells=n_cells)


_IVF_SCORES_TMPL = """
piv AS (
  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761 + 40503) % 1000000007, vec_id) AS pid,
         embedding AS p_emb
  FROM embeddings QUALIFY pid <= {n_cells}),
plist AS (SELECT list(p_emb ORDER BY pid) AS pivots FROM piv),
scored AS (
  SELECT e.vec_id, e.embedding,
         list_transform(pivots, p ->
           list_sum(list_transform(e.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(p[i] AS DOUBLE)))
           / ( sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(p, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) )) AS ss
  FROM embeddings e, plist)
"""

_IVF_SCORES_CTE = _ivf_scores_cte(_IVF_CELLS)

IVF_ASSIGN_SQL = f"""
WITH {_IVF_SCORES_CTE}
SELECT vec_id, CAST(list_position(ss, list_max(ss)) - 1 AS INTEGER) AS ivf_cell
FROM scored
"""

IVF_TOPK_SQL = f"""
WITH {_IVF_SCORES_CTE},
assigned AS (
  SELECT vec_id, embedding, list_position(ss, list_max(ss)) - 1 AS cell FROM scored),
qcells AS (
  SELECT u.gs.i - 1 AS q_cell
  FROM (SELECT unnest(list_sort([{{'neg': -ss[i], 'i': i}} FOR i IN range(1, len(ss) + 1)])[1:2]) AS gs
        FROM scored WHERE vec_id = 0) u),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT a.vec_id, a.embedding FROM assigned a
  WHERE a.cell IN (SELECT q_cell FROM qcells) AND a.vec_id <> 0),
topk AS (
  SELECT vec_id,
         list_sum(list_transform(cand.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)))
         / ( sqrt(list_sum(list_transform(cand.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) ) AS cos
  FROM cand, q)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
FROM topk QUALIFY rank <= 10
"""

ANN_LSH_TOPK_SQL = """
WITH sig AS (
  SELECT vec_id, embedding,
         list_sum([CASE WHEN list_sum(list_transform(embedding,
               (x, i) -> CAST(x AS DOUBLE)
                         * CAST((((i - 1) * 2654435761 + b * 40503 + 12345) % 7) - 3 AS DOUBLE))) > 0
               THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END
           FOR b IN range(0, 16)]) AS s
  FROM embeddings),
q AS (SELECT s AS q_s, embedding AS q_emb FROM sig WHERE vec_id = 0),
cand AS (
  SELECT sig.vec_id, sig.embedding FROM sig, q
  WHERE bit_count(xor(sig.s, q.q_s)) <= 6 AND sig.vec_id <> 0),
scored AS (
  SELECT vec_id,
         list_sum(list_transform(cand.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)))
         / ( sqrt(list_sum(list_transform(cand.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) ) AS cos
  FROM cand, q)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 10
"""


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Int8-style scalar quantization (per-vector min-max scale to
    0..255) with exact reconstruction-error accounting — the storage-
    compression step of a 100 TB vector pipeline (4× smaller than
    float32 before similarity search). Pure per-row array expressions,
    zero shuffle; the DuckDB oracle replays the identical IEEE
    double arithmetic."""
    # project intermediates to columns FIRST: an array expression (e.g.
    # array_min) referenced inside a per-element lambda is re-evaluated
    # per element (O(dim²)/row); as a bound column it is computed once
    # per row (measured ~8x on 128-dim vectors)
    base = embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.transform("embedding", lambda v: v.cast("double")).alias("xs"),
    ).select(
        "vec_id", "xs",
        F.array_min("xs").alias("lo"),
        (F.array_max("xs") - F.array_min("xs")).alias("rng"),
    )
    lo, rng = F.col("lo"), F.col("rng")
    q = F.transform(
        "xs",
        lambda v: F.when(
            rng > 0, F.least(F.floor((v - lo) / rng * 255), F.lit(255))
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    staged = base.select("vec_id", "xs", "lo", "rng", q.alias("qs"))
    err = F.aggregate(
        F.zip_with(
            "xs", "qs",
            lambda v, qq: F.abs(v - (lo + qq.cast("double") / 255.0 * rng)),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return staged.select(
        "vec_id",
        F.aggregate("qs", F.lit(0).cast("long"), lambda a, v: a + v).alias("q_sum"),
        F.element_at("qs", 1).alias("q_first"),
        F.floor(err * 1000000).cast("bigint").alias("err_x1e6"),
    )


QUANTIZE_SQL = """
WITH x AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
  FROM embeddings),
s AS (SELECT vec_id, xs, list_min(xs) AS lo, list_max(xs) AS hi FROM x),
q AS (
  SELECT vec_id, xs, lo, hi,
         list_transform(xs, v -> CASE WHEN hi - lo > 0
             THEN LEAST(CAST(FLOOR((v - lo) / (hi - lo) * 255) AS BIGINT), 255)
             ELSE CAST(0 AS BIGINT) END) AS qs
  FROM s)
SELECT vec_id,
       CAST(list_sum(qs) AS BIGINT) AS q_sum,
       qs[1] AS q_first,
       CAST(FLOOR(list_sum(list_transform(range(1, len(xs) + 1),
              i -> abs(xs[i] - (lo + CAST(qs[i] AS DOUBLE) / 255.0 * (hi - lo)))))
            * 1000000) AS BIGINT) AS err_x1e6
FROM q
"""


def neardup_candidates(embeddings: DataFrame) -> DataFrame:
    """LSH candidate pairs for all-pairs embedding near-dup: banded
    random-hyperplane signatures (4 bands of 32/4 planes each), equi-joined on (band, band_signature) — the same
    banded shape as ``minhash_lsh_pairs``.

    Scale notes (why this survives 100×, unlike 4-bit chunks):
    - an 8-bit band signature has 256 buckets/band, so unrelated pairs
      collide with p ≈ 4/256 instead of the near-certain collision of
      4-bit chunks (expected candidates ~n²/64 → ~n²·0.016, and the
      constant improves exponentially with planes-per-band);
    - the bucket cap drops (band, sig) buckets bigger than 10000
      before the self-join: a degenerate hot bucket (all-identical
      signatures on a clustered corpus) would otherwise go quadratic on
      one key. Hot buckets are non-discriminative by construction, so
      dropping them trades bounded recall for a hard runtime bound —
      the standard LSH skew guard. The count pass shuffles only
      (band, sig) keys.
    Output: distinct (a_id, b_id) with a_id < b_id.
    """
    n_planes, bands = _NEARDUP_PLANES, _NEARDUP_BANDS
    ppb = n_planes // bands
    mask = (1 << ppb) - 1
    sigs = lsh_signatures(embeddings, n_planes)
    banded = sigs.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned("lsh_sig", ppb * b).bitwiseAND(F.lit(mask))
                for b in range(bands)
            ])
        ).alias("band", "band_sig"),
    )
    # materialize the slim banded rows ONCE (r7): the static plan
    # otherwise embeds the 32-plane signature fold once per self-join
    # side (the fold is ~1.5 s of the 3.5 s query at sf0.1), and AQE
    # exchange reuse is not guaranteed across differently-projected
    # branches; the checkpoint is 3 longs per (vec, band), no vectors.
    # Then ONE explicit shuffle on the join key: the self-join, the
    # bucket count and the semi-join all consume the same exchange.
    banded = banded.localCheckpoint()
    banded = banded.repartition("band", "band_sig")
    small = (
        banded.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .where(F.col("bucket_n") <= _NEARDUP_BUCKET_CAP)
        .select("band", "band_sig")
    )
    banded = banded.join(small, ["band", "band_sig"], "left_semi")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "band_sig"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )


def embedding_neardup_pairs(embeddings: DataFrame) -> DataFrame:
    """All-pairs embedding near-dup: banded LSH buckets propose
    candidates (``neardup_candidates``), exact cosine verifies. The
    candidate join shuffles only (band, 8-bit sig) keys and the verify
    join ships vectors for CANDIDATE pairs only — never the n² pair
    space — which is the 100 TB shape; the adjacent-id variant is just
    a smoke check."""
    cand = neardup_candidates(embeddings)
    e = embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    # per-vector norms hoisted before the candidate join (bit-identical
    # to the per-pair formula the oracle uses; see semantic_dedup)
    ea = e.select(F.col("vec_id").alias("a_id"),
                  F.col("embedding").alias("emb_a"),
                  _norm(F.col("embedding")).alias("norm_a"))
    eb = e.select(F.col("vec_id").alias("b_id"),
                  F.col("embedding").alias("emb_b"),
                  _norm(F.col("embedding")).alias("norm_b"))
    scored = cand.join(ea, "a_id").join(eb, "b_id")
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        scored.select(
            "a_id", "b_id", F.floor(cos * 10000).cast("bigint").alias("cos_x10k")
        )
        .where(F.col("cos_x10k") >= 3000)
    )


NEARDUP_PAIRS_SQL = """
WITH sig AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
         list_sum([CASE WHEN list_sum(list_transform(embedding,
               (x, i) -> CAST(x AS DOUBLE)
                         * CAST((((i - 1) * 2654435761 + b * 40503 + 12345) % 7) - 3 AS DOUBLE))) > 0
               THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END
           FOR b IN range(0, 32)]) AS s
  FROM embeddings),
banded AS (
  SELECT vec_id, (s >> (8 * CAST(t.b AS INTEGER))) & 255 AS band_sig, t.b AS band
  FROM sig, range(0, 4) t(b)),
kept AS (
  SELECT vec_id, band, band_sig FROM banded
  QUALIFY COUNT(*) OVER (PARTITION BY band, band_sig) <= 10000),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM kept a JOIN kept b USING (band, band_sig)
  WHERE a.vec_id < b.vec_id),
scored AS (
  SELECT a_id, b_id,
         CAST(FLOOR(
           list_sum(list_transform(ea.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
           / ( sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) )
           * 10000) AS BIGINT) AS cos_x10k
  FROM cand JOIN sig ea ON ea.vec_id = cand.a_id
            JOIN sig eb ON eb.vec_id = cand.b_id)
SELECT a_id, b_id, cos_x10k FROM scored WHERE cos_x10k >= 3000
"""


def semantic_dedup(embeddings: DataFrame) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540): IVF coarse clusters bound the pair space, then within
    each cluster a vector is DROPPED when a lower-id member sits at
    cosine ≥ 0.3 (keep-first convention, like
    ``dedup_keep_first``). Output: (vec_id, ivf_cell, is_kept).

    Scale shape — why this is the 100 TB semantic-dedup plan:
    - assignment is a broadcast of K pivots + a per-row JVM fold
      (``ivf_assign``), zero shuffle on the vectors;
    - the pairwise stage equi-joins on ``ivf_cell``, so vectors ship
      once to their cluster's reducer and pairs form per-cluster,
      never across the n² global space — exactly the paper's design
      point (cluster count scales with corpus so cluster sizes stay
      bounded; K = ``_SEMANTIC_CELLS``, which SEMANTIC_DEDUP_SQL pins);
    - the cell cap bounds a HOT cell: only the first 10000
      members of a cell (by vec_id — deterministic) act as the pair
      join's a-side ("representatives"); the b-side stays unrestricted,
      so every member is still compared against the cell's head but the
      per-cell pair space is cap·|cell| (linear), never |cell|² — the
      same skew guard as ``embedding_neardup_pairs``' bucket cap.
      Output is IDENTICAL to uncapped whenever no cell exceeds the cap
      (keep-first drops the higher id of a close pair, and the likely
      droppers — low ids — are exactly the representatives);
    - the drop set is a DISTINCT on bare ids, and the final flag is a
      broadcast-able left-semi-style join, all 8-byte traffic.
    Comparisons use the floor(cos·10⁴) integer the twin mirrors."""
    # cell computed in the scan's task over the broadcast pivot row —
    # NOT ivf_assign joined back on vec_id, which would shuffle every
    # vector just to reunite it with its own cell id. localCheckpoint
    # (r7): the assignment fold (K cosines/row) otherwise re-runs in
    # each of the three plan branches that consume `e` (a-side, b-side,
    # final flag join) — measured ~1 s/branch at sf0.1; partition-local
    # materialization, no shuffle added.
    e = _assign_with_embedding(embeddings, _SEMANTIC_CELLS).localCheckpoint()
    # norms hoisted to one column per VECTOR before the pair join —
    # computing them per PAIR would redo the O(dim) fold ~cell_size
    # times per vector; dot/(na*nb) is the same expression tree, so
    # results stay bit-identical to the oracle's per-pair formula
    #
    # the a-side rank filter is the cell-cap guard documented above.
    # NOTE: this plans a FULL per-cell Window sort, not a
    # WindowGroupLimit — the cap (10000) exceeds
    # spark.sql.optimizer.windowGroupLimitThreshold (default 1000), so
    # InferWindowGroupLimit declines (see tools/plan_audit.py's
    # BOUNDED_WINDOW_GROUPS entry). The sort is O(|cell| log |cell|)
    # over the same ivf_cell exchange the pair join needs anyway —
    # still the cheap side of the quadratic join it guards.
    rep_rn = F.row_number().over(
        Window.partitionBy("ivf_cell").orderBy("vec_id"))
    a = (e.withColumn("cell_rn", rep_rn)
         .where(F.col("cell_rn") <= _SEMDEDUP_CELL_CAP)
         .select(F.col("ivf_cell"), F.col("vec_id").alias("a_id"),
                 F.col("embedding").alias("emb_a"),
                 _norm(F.col("embedding")).alias("norm_a")))
    b = e.select(F.col("ivf_cell"), F.col("vec_id").alias("b_id"),
                 F.col("embedding").alias("emb_b"),
                 _norm(F.col("embedding")).alias("norm_b"))
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    dropped = (
        a.join(b, "ivf_cell")
        .where(F.col("a_id") < F.col("b_id"))
        .where(F.floor(cos * 10000).cast("bigint") >= _SEMDEDUP_THRESHOLD_X10K)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return e.join(dropped.withColumn("dropped", F.lit(1)), "vec_id", "left") \
        .select("vec_id", "ivf_cell",
                F.when(F.col("dropped").isNull(), 1).otherwise(0)
                .cast("int").alias("is_kept"))


SEMANTIC_DEDUP_SQL = f"""
WITH {_ivf_scores_cte(_SEMANTIC_CELLS)},
assigned AS (
  SELECT vec_id, embedding,
         CAST(list_position(ss, list_max(ss)) - 1 AS INTEGER) AS ivf_cell
  FROM scored),
reps AS (
  -- cell_cap mirror: only the first 10000 members of a cell (by
  -- vec_id) participate as the dropping side, like the Spark plan
  SELECT vec_id, embedding, ivf_cell FROM assigned
  QUALIFY ROW_NUMBER() OVER (PARTITION BY ivf_cell ORDER BY vec_id)
          <= 10000),
dropped AS (
  SELECT DISTINCT b.vec_id AS vec_id
  FROM reps a JOIN assigned b
    ON a.ivf_cell = b.ivf_cell AND a.vec_id < b.vec_id
  WHERE CAST(FLOOR(
          list_sum(list_transform(a.embedding,
            (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / ( sqrt(list_sum(list_transform(a.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) )
          * 10000) AS BIGINT) >= 3000)
SELECT s.vec_id, s.ivf_cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_kept
FROM assigned s LEFT JOIN dropped d USING (vec_id)
"""


def ann_recall(embeddings: DataFrame) -> DataFrame:
    """Self-evaluation of the two ANN paths against exact brute-force
    ground truth: per method, how many of the true top-k the bucketed
    search returned (recall@k numerator — the metric a production ANN
    deployment tracks per index build). One row per method, all
    integer: (method, n_hits, k)."""
    # k-row checkpoint: both method branches join against the exact
    # ground truth — without it the brute-force pass runs twice
    truth = cosine_topk(embeddings).select("vec_id").localCheckpoint()

    def hits(name, df):
        return (
            df.select("vec_id").join(truth, "vec_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
            .select(F.lit(name).alias("method"), "n_hits",
                    F.lit(_TOP_K).cast("bigint").alias("k"))
        )

    return hits("lsh", lsh_topk(embeddings)).unionByName(
        hits("ivf", ivf_topk(embeddings)))


ANN_RECALL_SQL = f"""
WITH truth AS (SELECT vec_id FROM ({ANN_TOPK_SQL})),
l AS (SELECT vec_id FROM ({ANN_LSH_TOPK_SQL})),
i AS (SELECT vec_id FROM ({IVF_TOPK_SQL}))
SELECT 'lsh' AS method, CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(10 AS BIGINT) AS k
FROM l JOIN truth USING (vec_id)
UNION ALL
SELECT 'ivf' AS method, CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(10 AS BIGINT) AS k
FROM i JOIN truth USING (vec_id)
"""


def ivf_refine(embeddings: DataFrame) -> DataFrame:
    """One Lloyd (k-means) refinement iteration over the IVF coarse
    cells: recompute each cell's centroid as the element-wise mean of
    its members, then reassign every vector to its nearest refined
    centroid — the index-build quality step between "pivots are K
    sampled rows" and a trained quantizer.

    Determinism: centroids are INTEGER vectors — components are
    floor(x·10⁴) quantized, summed per cell (integer sums commute,
    so shuffle order can't change them), and floor-divided by the cell
    count via the explicit pmod identity (s - ((s%n)+n)%n)/n, which
    reads the same on both engines regardless of their native int-div
    rounding. Reassignment then scores each vector against the K
    integer centroids with the same left-to-right double fold the
    other cosine twins pin.

    Scale shape — why this survives 100 TB:
    - assignment is the broadcast-pivot per-row fold
      (``_assign_with_embedding``), zero shuffle on the vectors;
    - the centroid sum is a posexplode to (cell, j, q) longs +
      partial-agg SUM: map-side combine collapses every partition to
      ≤ K·dim rows before the exchange, so the shuffle carries
      O(partitions·K·dim) longs, not O(corpus·dim);
    - the K refined centroids collapse to ONE broadcast row and the
      rescoring runs in the scan's own task — no second vector
      shuffle, no join back on vec_id.

    Output: (vec_id, cell0, cell1, moved) — moved=1 when the refined
    argmax differs from the coarse cell.

    localCheckpoint on the assignment (r7): `e` feeds the centroid
    explode, the cell counts AND the rescoring — without the barrier
    the K-cosine assignment fold runs once per branch.
    """
    e = _assign_with_embedding(embeddings, _SEMANTIC_CELLS).localCheckpoint()
    qcol = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 10000).cast("bigint"),
    )
    exploded = e.select("ivf_cell", F.posexplode(qcol).alias("pos", "q"))
    sums = (
        exploded.groupBy("ivf_cell", (F.col("pos") + 1).alias("j"))
        .agg(F.sum("q").alias("s"))
    )
    counts = e.groupBy("ivf_cell").agg(F.count(F.lit(1)).alias("n"))
    # floor(s/n) via the pmod identity: exact integer arithmetic, no
    # reliance on either engine's int-division rounding direction
    cents = (
        sums.join(counts, "ivf_cell")
        .groupBy("ivf_cell", "n")
        .agg(F.array_sort(F.collect_list(F.struct("j", "s"))).alias("js"))
        .select(
            "ivf_cell",
            F.transform(
                "js",
                lambda t: ((t["s"] - F.pmod(t["s"], F.col("n"))) / F.col("n"))
                .cast("bigint"),
            ).alias("carr"),
        )
    )
    cent_row = cents.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("ivf_cell").alias("cell"), F.col("carr").alias("c"))
            )
        ).alias("cents")
    )
    rescored = e.crossJoin(F.broadcast(cent_row))
    ss2 = F.transform(
        F.col("cents"),
        lambda c: _dot(F.col("embedding"), c["c"])
        / (_norm(F.col("embedding")) * _norm(c["c"])),
    )
    pos = F.array_position(ss2, F.array_max(ss2))
    cell1 = F.element_at(F.col("cents"), pos.cast("int"))["cell"]
    return rescored.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("ivf_cell").cast("int").alias("cell0"),
        cell1.cast("int").alias("cell1"),
        (F.col("ivf_cell") != cell1).cast("int").alias("moved"),
    )


IVF_REFINE_SQL = f"""
WITH {_ivf_scores_cte(_SEMANTIC_CELLS)},
assigned AS (
  SELECT vec_id, embedding,
         CAST(list_position(ss, list_max(ss)) - 1 AS INTEGER) AS cell0
  FROM scored),
counts AS (SELECT cell0, COUNT(*) AS n FROM assigned GROUP BY cell0),
sums AS (
  SELECT cell0, t.i AS j,
         SUM(CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 10000) AS BIGINT)) AS s
  FROM assigned, range(1, 65) t(i)
  GROUP BY cell0, t.i),
cents AS (
  SELECT cell0,
         list((s - ((s % n) + n) % n) // n ORDER BY j) AS carr
  FROM sums JOIN counts USING (cell0)
  GROUP BY cell0, n),
clist AS (
  SELECT list({{'cell': cell0, 'c': carr}} ORDER BY cell0) AS cents FROM cents),
rescored AS (
  SELECT a.vec_id, a.cell0, cents,
         list_transform(cents, c ->
           list_sum(list_transform(a.embedding,
             (x, i) -> CAST(x AS DOUBLE) * CAST(c.c[i] AS DOUBLE)))
           / ( sqrt(list_sum(list_transform(a.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(c.c,
                 y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) )) AS ss2
  FROM assigned a, clist)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cell0 AS INTEGER) AS cell0,
       CAST(cents[list_position(ss2, list_max(ss2))].cell AS INTEGER) AS cell1,
       CAST(CASE WHEN cell0 <> cents[list_position(ss2, list_max(ss2))].cell
                 THEN 1 ELSE 0 END AS INTEGER) AS moved
FROM rescored
"""


def cluster_balanced_sample(embeddings: DataFrame) -> DataFrame:
    """Diversity-balanced selection: ``_BALANCED_QUOTA`` vectors from
    each of the ``_SEMANTIC_CELLS`` IVF cells, ranked by centrality
    (cosine to the cell's own pivot) — the cluster-balanced curation
    step that keeps a corpus's long-tail topics from being drowned by
    its head cluster. Output: (vec_id, ivf_cell, rank), rank 1 = most
    central of its cell.

    Shape: one broadcast K-pivot row, assignment + centrality in the
    scan task (zero vector shuffle), then a per-cell row_number capped
    by the quota — Catalyst plans a WindowGroupLimit, so every
    task pre-reduces to k rows per cell before the (n_cells-key)
    shuffle: the window never sees an unbounded group.
    """
    base = _assign_with_embedding(embeddings, _SEMANTIC_CELLS, with_cos=True).select(
        "vec_id", "ivf_cell", "cos")
    w = Window.partitionBy("ivf_cell").orderBy(F.desc("cos"), "vec_id")
    return (
        base.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _BALANCED_QUOTA)
        .select("vec_id", "ivf_cell", F.col("rank").cast("bigint").alias("rank"))
    )


CLUSTER_BALANCED_SQL = f"""
WITH {_ivf_scores_cte(_SEMANTIC_CELLS)},
assigned AS (
  SELECT vec_id, list_max(ss) AS cos,
         list_position(ss, list_max(ss)) - 1 AS cell
  FROM scored)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cell AS INTEGER) AS ivf_cell,
       CAST(row_number() OVER (PARTITION BY cell ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
FROM assigned QUALIFY rank <= 8
"""


# --------------------------------------------------------------------------
# Product quantization (PQ): the compressed-domain ANN path.
# dim-64 vectors -> M=8 subspaces of DSUB=8 dims, KS=16 codewords per
# subspace = 8 small ints (4 bits each) per vector, a 64x compression
# of float32 storage. Codebooks are data-derived with the same seeded
# hash shuffle as the IVF pivots (subspace j's codewords are the KS
# pivot vectors' j-th subvectors), so both engines rebuild the model
# from the data with no stored artifact.

_PQ_M, _PQ_DSUB, _PQ_KS = 8, 8, 16


def _sqdist(a, b):
    """Squared L2 between a DOUBLE array and a FLOAT array, summed
    left-to-right — the fold order the DuckDB twins replay."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y.cast("double"))
                   * (x - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_pivots(embeddings: DataFrame, ks: int) -> list:
    """The KS codebook pivots collected once (driver-bounded, like the
    IVF pivot collect): list of per-pivot float lists (None for a NULL
    pivot embedding)."""
    rows = _pivot_row(embeddings, ks).collect()
    pivots = rows[0]["pivots"] if rows else []
    return [None if p["p_emb"] is None
            else [float(v) for v in p["p_emb"]] for p in pivots]


def _pq_sqdist_py(xs, ps, j, dsub):
    """One subspace sqdist with the exact expression semantics:
    slices zip up to the longer side padding NULL, any NULL kills the
    sum (returns None); equal-length (possibly empty) slices fold
    left-to-right in IEEE doubles like ``_sqdist``."""
    if ps is None:
        return None
    xa = xs[j * dsub:j * dsub + dsub]
    pb = ps[j * dsub:j * dsub + dsub]
    if len(xa) != len(pb):
        return None
    acc = 0.0
    for x, p in zip(xa, pb):
        d = (x - p) * (x - p)
        acc = acc + d
    return acc


def _pq_codes_of(xs, pivots, m, dsub):
    """M codes for one vector: per subspace, first-min argmin over the
    pivot distances, skipping None (array_min ignores NULLs); all-None
    yields a None code like array_position(d, NULL)."""
    codes = []
    for j in range(m):
        best, best_c = None, None
        for c, ps in enumerate(pivots):
            d = _pq_sqdist_py(xs, ps, j, dsub)
            if d is not None and (best is None or d < best):
                best, best_c = d, c
        codes.append(best_c)
    return codes


def _pq_staged_np(embeddings: DataFrame,
                  pivots: list | None = None) -> DataFrame:
    """(vec_id, codes) computed in mapInArrow (r7, guide §4.2): the
    KS pivots ride in the task closure and the M×KS×dsub squared-
    distance folds run in numpy with ``_sqdist``'s exact left-to-right
    IEEE order — fixed-dim rows vectorize, ragged/NULL rows replay the
    zip-pad/NULL-skip expression semantics per row in Python. Codes
    are bit-identical to the old broadcast-expression stage (pinned by
    tests/test_round7.py::test_pq_codes_numpy_matches_expression)."""
    import numpy as np
    import pyarrow as pa

    m, dsub = _PQ_M, _PQ_DSUB
    if pivots is None:
        pivots = _pq_pivots(embeddings, _PQ_KS)
    full = m * dsub
    ok_piv = np.array([p is not None and len(p) == full for p in pivots])
    P = np.zeros((len(pivots), full))
    for c, p in enumerate(pivots):
        if ok_piv[c]:
            P[c] = p
    K = len(pivots)

    def batches(it):
        for batch in it:
            ids = batch.column("vec_id").cast(pa.int64())
            offs, flat, lens, notnull = list_parts(batch.column("embedding"))
            # NULL embedding: the expression path's outer transform
            # still yields an ARRAY of m NULL codes, not a NULL array
            codes: list = [[None] * m for _ in range(len(ids))]
            fast = np.flatnonzero(notnull & (lens == full))
            if len(fast) and K and ok_piv.any():
                X = flat[offs[fast, None] + np.arange(full)[None, :]]
                dists = np.zeros((len(fast), m, K))
                for j in range(m):
                    acc = np.zeros((len(fast), K))
                    for i in range(dsub):
                        col = j * dsub + i
                        dxp = X[:, col, None] - P[None, :, col]
                        acc += dxp * dxp
                    dists[:, j, :] = acc
                dists[:, :, ~ok_piv] = np.inf  # NULL-dist: skipped
                cm = np.argmin(dists, axis=2)
                for r_i, row in enumerate(fast):
                    codes[row] = [int(c) for c in cm[r_i]]
                slow = notnull & (lens != full)
            else:
                # no usable pivot: every subspace argmin is over NULL
                # distances -> [NULL]*m, per the replay below
                slow = notnull
            # ragged / odd rows: per-row expression-semantics replay
            for row in np.flatnonzero(slow):
                xs = flat[offs[row]:offs[row + 1]].tolist()
                codes[row] = _pq_codes_of(xs, pivots, m, dsub)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(codes, pa.list_(pa.int64()))],
                names=["vec_id", "codes"])

    return embeddings.select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    ).mapInArrow(batches, "vec_id bigint, codes array<bigint>")


def pq_encode(embeddings: DataFrame) -> DataFrame:
    """PQ codes per vector: (vec_id, codes_str, code_sum), where
    codes_str is the dash-joined M-code word (e.g. '3-15-0-…', each
    code in [0, KS)) and code_sum its integer checksum. Pure
    projection after one broadcast — the shape that encodes 100 B
    vectors in a single scan wave with no shuffle at all."""
    st = _pq_staged_np(embeddings)
    return st.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), "-"
        ).alias("codes_str"),
        F.aggregate("codes", F.lit(0).cast("long"),
                    lambda a, c: a + c).alias("code_sum"),
    )


def pq_topk(embeddings: DataFrame) -> DataFrame:
    """Asymmetric-distance (ADC) top-k in the compressed domain: the
    query stays a raw vector, every candidate is scored ONLY through
    its M codes — distance = sum over subspaces of
    ||q_sub_j − codeword(codes[j])_j||², i.e. what a PQ index computes
    from a lookup table without touching the original vectors. At
    100 TB the scan reads 8-byte codes instead of 256-byte floats; the
    global lone-rank filter is rewritten by LimitPushDownThroughWindow
    into a TakeOrderedAndProject under the window (per-task k-row
    pre-reduce before the single k-row merge — the global-window
    analogue of WindowGroupLimit). Output (vec_id, rank), rank 1 =
    nearest."""
    m, dsub = _PQ_M, _PQ_DSUB
    pivots = _pq_pivots(embeddings, _PQ_KS)
    st = _pq_staged_np(embeddings, pivots=pivots)
    # ADC lookup tables, one per query-id row (old crossJoin
    # cardinality): T[j][c] = sqdist(q_sub_j, codeword_c_sub_j) with
    # _sqdist's exact fold order, shipped as a literal — the per-row
    # cost drops from M×dsub folds to M table probes, which is
    # exactly how a PQ index scores (the codes never meet the floats)
    q_rows = embeddings.where(F.col("vec_id") == _QUERY_VEC_ID) \
        .select("embedding").collect()
    dists = []
    for r in q_rows:
        if r["embedding"] is None:
            qxs = None
        else:
            qxs = [float(v) for v in r["embedding"]]
        table = F.array(*[
            F.array(*[
                (F.lit(None).cast("double") if qxs is None
                 or _pq_sqdist_py(qxs, p, j, dsub) is None
                 else F.lit(_pq_sqdist_py(qxs, p, j, dsub)))
                for p in pivots])
            for j in range(m)]) if pivots else None
        d = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc + (
                F.lit(None).cast("double") if table is None
                else F.element_at(
                    F.element_at(table, (j + 1).cast("int")),
                    (F.element_at(F.col("codes"), (j + 1).cast("int"))
                     + 1).cast("int"))),
        )
        dists.append(d)
    base = st.where(F.col("vec_id") != _QUERY_VEC_ID)
    if not dists:
        scored = base.select(
            "vec_id", F.lit(None).cast("double").alias("dist")
        ).where(F.lit(False))
    else:
        parts = [base.select("vec_id", d.alias("dist")) for d in dists]
        scored = parts[0]
        for p in parts[1:]:
            scored = scored.unionAll(p)
    w = Window.orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
        .select("vec_id", F.col("rank").cast("bigint").alias("rank"))
    )


_PQ_CODES_CTE = """
piv AS (
  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761 + 40503) % 1000000007, vec_id) AS pid,
         embedding AS p_emb
  FROM embeddings QUALIFY pid <= 16),
plist AS (SELECT list(p_emb ORDER BY pid) AS pivots FROM piv),
x AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
      FROM embeddings),
dd AS (
  SELECT vec_id, xs, pivots,
         list_transform(range(0, 8), j ->
           list_transform(pivots, p ->
             list_sum(list_transform(range(1, 9), i ->
               (xs[j*8 + i] - CAST(p[j*8 + i] AS DOUBLE))
               * (xs[j*8 + i] - CAST(p[j*8 + i] AS DOUBLE)) )))) AS dd
  FROM x, plist),
codes AS (
  SELECT vec_id, xs, pivots,
         list_transform(dd, d -> list_position(d, list_min(d)) - 1) AS codes
  FROM dd)
"""

PQ_ENCODE_SQL = f"""
WITH {_PQ_CODES_CTE}
SELECT vec_id,
       list_aggregate(list_transform(codes, c -> CAST(c AS VARCHAR)),
                      'string_agg', '-') AS codes_str,
       CAST(list_sum(codes) AS BIGINT) AS code_sum
FROM codes
"""

PQ_TOPK_SQL = f"""
WITH {_PQ_CODES_CTE},
q AS (SELECT xs AS q_xs FROM x WHERE vec_id = 0),
scored AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(0, 8), j ->
           list_sum(list_transform(range(1, 9), i ->
             (q_xs[j*8 + i] - CAST(pivots[codes[j + 1] + 1][j*8 + i] AS DOUBLE))
             * (q_xs[j*8 + i] - CAST(pivots[codes[j + 1] + 1][j*8 + i] AS DOUBLE)) ))))
         AS dist
  FROM codes c, q WHERE c.vec_id <> 0)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(row_number() OVER (ORDER BY dist, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 10
"""
