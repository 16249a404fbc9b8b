"""Embedding similarity search: brute-force cosine top-k (baseline) and
blocked/bucketed variants (the scale path). Beyond-reference capability.

Scale design:
- The query side is broadcast (queries ≪ corpus); candidates never
  shuffle — the cross product is map-side, and only (query_id,
  candidate_id, score) rows reach the per-query top-k.
- Top-k uses a window over query_id; at large k-or-queries switch to
  ``groupBy(query_id).agg(max_by-style aggregation)``.
- Dot products stay in the JVM: ``zip_with`` + ``aggregate`` over the
  float arrays cast to double, left-to-right — deterministic and
  engine-portable (matches DuckDB's sequential list_sum). Spark runs
  higher-order functions interpreted (CodegenFallback), so the real
  scale lever is CANDIDATE COUNT, not dot speed: banding/blocking
  keeps pair dots ~linear in true dups (A/B-measured here: unrolled
  ``element_at`` sums bloat codegen and lose to the interpreted HOF at
  every call site once candidates are bounded — see ``_dot(dim=...)``
  for the unrolled variant if a future fixed-width hot path needs it).
- ``cosine_pairs_blocked`` is the IVF-flavored variant: an equi-join on
  a coarse blocking key bounds the pair count; swap the key for an LSH
  hyperplane bucket or a learned centroid id at scale.

Defaults at scale: ``knn_ivf`` is the production entry point;
``knn_brute_force`` is the exact-recall yardstick and fails fast above
``max_corpus_rows``. Cache ownership: ``cosine_pairs_blocked``
persists its join input — callers clear it after materializing (see
the note in operators/dedup.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import ROWS_PER_TASK


# Width of the testdata embedding column; the embedding entry points
# default to unrolled fixed-width arithmetic at this dim.
EMBED_DIM = 64


def _dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Left-to-right double dot product.

    Default (``dim=None``): ``aggregate``/``zip_with`` — interpreted by
    Spark (higher-order functions are CodegenFallback) but compact. With
    ``dim``, unrolls to a flat ``element_at`` sum whose every node is
    whole-stage-codegen'd; the fold order is identical
    (``((0.0 + t1) + t2)...``) so results are bit-for-bit equal either
    way, and both match DuckDB's sequential ``list_sum``. A/B at sf0.1
    showed the unrolled form LOSES here — 64-term trees bloat codegen
    and slow every task — so no internal call site uses it; it remains
    for fixed-width hot paths where per-row cost provably dominates.
    If an array is shorter than ``dim`` the sum is NULL (out-of-range
    ``element_at``), never silently wrong.
    """
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    out: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        out = out + F.element_at(a, i).cast("double") * F.element_at(
            b, i
        ).cast("double")
    return out


def _norm(a: Column, dim: int | None = None) -> Column:
    """L2 norm; same unrolled-vs-interpreted contract as :func:`_dot`."""
    if dim is None:
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    out: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        x = F.element_at(a, i).cast("double")
        out = out + x * x
    return F.sqrt(out)


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity; pass ``dim`` for fixed-width columns (fast
    codegen path), omit it for variable-length vectors."""
    return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


def _fold_cosine_matrix(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(q, n) cosine matrix that is BIT-FOR-BIT the SQL expression
    ``_dot(q, c) / (_norm(q) * _norm(c))``: each dot/norm is the same
    left-to-right IEEE-754 double fold ``((0.0 + t1) + t2)...`` the
    ``aggregate`` HOF computes — vectorized ACROSS pairs while the fold
    axis stays sequential, so numpy's pairwise summation never engages
    and every add/mul/div hits the same operands in the same order."""
    nq = np.zeros(Q.shape[0])
    nc = np.zeros(C.shape[0])
    acc = np.zeros((Q.shape[0], C.shape[0]))
    tmp = np.empty_like(acc)
    for i in range(Q.shape[1]):
        qi = Q[:, i]
        ci = C[:, i]
        nq += qi * qi
        nc += ci * ci
        np.multiply.outer(qi, ci, out=tmp)
        acc += tmp
    den = np.multiply.outer(np.sqrt(nq), np.sqrt(nc))
    with np.errstate(divide="ignore", invalid="ignore"):
        # dot / (q_norm * c_norm): denominator product FIRST, one IEEE
        # division per pair
        return acc / den, den


def _pair_score_exact(qv, cv, ansi: bool):
    """Cold-path scalar replica of ``cosine`` for ragged/null vectors,
    with zip_with's null semantics: a None vector, a length mismatch
    (zip_with pads with null) or a null element poisons the fold to
    NULL. Division follows the session's ANSI setting: error on a zero
    denominator under ANSI (Spark 4 default), IEEE inf/nan otherwise."""
    if qv is None or cv is None or len(qv) != len(cv):
        return None
    dot = np.float64(0.0)
    qn = np.float64(0.0)
    cn = np.float64(0.0)
    for x, y in zip(qv, cv):
        if x is None or y is None:
            return None
        x = np.float64(x)
        y = np.float64(y)
        dot = dot + x * y
        qn = qn + x * x
        cn = cn + y * y
    den = np.sqrt(qn) * np.sqrt(cn)
    if ansi and den == 0.0:
        raise ArithmeticError(
            "[DIVIDE_BY_ZERO] Division by zero (zero-norm vector in "
            "knn_brute_force cosine; matches spark.sql.ansi.enabled)"
        )
    with np.errstate(divide="ignore", invalid="ignore"):
        return float(dot / den)


def _topk_block_scorer(k: int, ansi: bool):
    """Build the cogrouped-Arrow block scorer for knn_brute_force: one
    corpus block + the full query set in, the block-local top-k rows
    per query out (rows: query_id, neighbor_id, score). ``ansi``
    mirrors the session's spark.sql.ansi.enabled: the old JVM plan
    divided inside a projection over every non-self pair, so a single
    zero-norm vector failed the query — replicated here."""

    def score_block(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype=object),
                "neighbor_id": pd.Series([], dtype=object),
                "score": pd.Series([], dtype="float64"),
            }
        )
        if len(cpdf) == 0 or len(qpdf) == 0:
            return empty
        # `x != y` is NULL (row filtered) when either id is NULL, so
        # null-id rows on either side can never produce a pair
        cpdf = cpdf[cpdf["neighbor_id"].notna()]
        qpdf = qpdf[qpdf["query_id"].notna()]
        if len(cpdf) == 0 or len(qpdf) == 0:
            return empty
        qids = qpdf["query_id"].to_numpy()
        cids = cpdf["neighbor_id"].to_numpy()
        qvs = qpdf["q_vec"].to_numpy()
        cvs = cpdf["c_vec"].to_numpy()

        def _width(vs):
            w = None
            for v in vs:
                if v is None:
                    return None
                if w is None:
                    w = len(v)
                elif len(v) != w:
                    return None
            return w

        qw = _width(qvs)
        cw = _width(cvs)
        out_q, out_c, out_s = [], [], []
        kth = int(k)

        def _emit(a, row_s, row_null, row_den=None):
            keep = cids != qids[a]  # self-match exclusion
            row_ids = cids[keep]
            row_s = row_s[keep]
            row_null = row_null[keep]
            if ansi and row_den is not None and (row_den[keep] == 0.0).any():
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] Division by zero (zero-norm vector "
                    "in knn_brute_force cosine; matches "
                    "spark.sql.ansi.enabled)"
                )
            if len(row_ids) == 0:
                return
            # row_number over (score DESC NULLS LAST, NaN greatest,
            # neighbor_id ASC) — Spark's desc() ordering for doubles
            isnan = np.isnan(row_s) & ~row_null
            sort_val = np.where(isnan, 0.0, -row_s)
            sort_val = np.where(row_null, np.inf, sort_val)
            order = np.lexsort(
                (row_ids, sort_val, ~isnan, row_null.astype(np.int8))
            )
            top = order[:kth]
            out_q.extend([qids[a]] * len(top))
            out_c.extend(row_ids[top])
            out_s.extend(
                None if row_null[b] else float(row_s[b]) for b in top
            )

        if qw is not None and cw is not None and qw == cw and qw > 0:
            # fast path: uniform fixed-width vectors (the embedding
            # contract). float32→float64 element casts are exact.
            # Query chunks bound the live score matrix to ~4M doubles
            # regardless of how many queries hit the block.
            Q = np.stack(qvs).astype(np.float64, copy=False)
            C = np.stack(cvs).astype(np.float64, copy=False)
            chunk = max(1, (1 << 22) // max(1, len(cids)))
            no_null = np.zeros(len(cids), dtype=bool)
            for lo in range(0, len(qids), chunk):
                scores, den = _fold_cosine_matrix(Q[lo : lo + chunk], C)
                for a in range(scores.shape[0]):
                    _emit(lo + a, scores[a], no_null, den[a])
        else:
            # cold path: ragged / null vectors — exact scalar replica
            # (self pairs skipped BEFORE scoring, like the old plan's
            # filter-then-project order)
            for a in range(len(qids)):
                row_s = np.zeros(len(cids))
                row_null = np.zeros(len(cids), dtype=bool)
                for b in range(len(cids)):
                    if cids[b] == qids[a]:
                        continue
                    s = _pair_score_exact(qvs[a], cvs[b], ansi)
                    if s is None:
                        row_null[b] = True
                    else:
                        row_s[b] = s
                _emit(a, row_s, row_null)
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype=object),
                "neighbor_id": pd.Series(out_c, dtype=object),
                "score": pd.Series(out_s, dtype="float64"),
            }
        )

    return score_block


def _cogroup_topk(
    c: DataFrame,
    q: DataFrame,
    key: str,
    k: int,
    qid_type,
    nid_type,
) -> DataFrame:
    """Shared tail of the Arrow kNN paths: cogroup (neighbor_id, c_vec)
    × (query_id, q_vec) on ``key``, score each group's pair matrix with
    the bit-exact fold scorer, take the group-local top-k, then one
    global window over the per-group survivors. Exact because the
    group-local selection applies the same order law as the window."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("query_id", qid_type),
            StructField("neighbor_id", nid_type),
            StructField("score", DoubleType()),
        ]
    )
    ansi = (
        c.sparkSession.conf.get("spark.sql.ansi.enabled", "true") == "true"
    )
    cand = (
        c.groupBy(key)
        .cogroup(q.groupBy(key))
        .applyInPandas(_topk_block_scorer(k, ansi), schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn(
            "rank", F.row_number().over(w).cast(IntegerType())
        )
        .filter(F.col("rank") <= k)
    )


def knn_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_corpus_rows: int | None = 1_000_000,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    This is the EXACT-RECALL YARDSTICK, not the scale default: it scores
    corpus × queries pairs, so cost grows multiplicatively. For
    production-size corpora use :func:`knn_ivf` (optionally with
    :func:`kmeans_centroids`-trained cells) — sub-linear candidate sets,
    same output contract. ``max_corpus_rows`` guards against misuse:
    the call fails fast (one cheap count job) rather than launching an
    unbounded cross product; pass ``None`` to bypass for benchmarks.

    Plan (r13): the corpus is hash-blocked into B partitions sized from
    the corpus count (the cap check already pays that one sizing job),
    queries replicate once per block, and each block scores its q × n_b
    matrix inside ONE cogrouped Arrow task — the dot/norm folds are
    vectorized across pairs but stay left-to-right over the vector axis,
    so every score is bit-for-bit the ``aggregate``-HOF double the old
    JVM-interpreted plan produced (and DuckDB's sequential list_sum).
    Per-block top-k bounds what leaves Python to B·k rows per query;
    one final window re-ranks those. At scale: exchanges carry each
    corpus vector once and each query vector B times; per-task memory
    is q × ROWS_PER_TASK doubles (chunked); Python work is O(n·q·d)
    SIMD flops instead of interpreted per-element fold steps. Vector
    edge cases (null vector, ragged lengths, null elements as typed
    Nones) take a scalar replica with zip_with's null semantics;
    element-level nulls inside an otherwise-uniform float batch arrive
    from Arrow as NaN and score as NaN.

    Returns (query_id, neighbor_id, score, rank); ties broken by
    neighbor id for determinism.
    """
    n = corpus.count()
    if max_corpus_rows is not None and n > max_corpus_rows:
        raise ValueError(
            f"knn_brute_force: corpus has {n} rows > cap "
            f"{max_corpus_rows}; use knn_ivf for corpora this size "
            "or pass max_corpus_rows=None to force"
        )
    sc = corpus.sparkSession.sparkContext
    # enough blocks to use the cluster, few enough that each holds a
    # real chunk; both bounds derive from runtime size/parallelism,
    # not a fixed local constant
    b = max(
        1,
        min(sc.defaultParallelism, -(-n // 64)),
        -(-n // ROWS_PER_TASK),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(b)).cast("int").alias("_blk"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            F.array(*[F.lit(i).cast("int") for i in range(b)])
        ).alias("_blk"),
    )
    return _cogroup_topk(
        c,
        q,
        "_blk",
        k,
        queries.schema[id_col].dataType,
        corpus.schema[id_col].dataType,
    )


def _assign_from_list(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
    nprobe: int,
    out_col: str,
) -> DataFrame:
    """Map-side nearest-centroid assignment from a driver-side centroid
    list baked into the plan as literals (see assign_centroids)."""
    import math

    if not cents:
        raise ValueError("empty centroid table")
    nrm = _norm(F.col(vec_col))
    structs = []
    for cid, cv in cents:
        cnorm = math.sqrt(sum(x * x for x in cv))
        score = _dot(F.col(vec_col), F.array(*[F.lit(x) for x in cv])) / (
            nrm * F.lit(cnorm)
        )
        structs.append(
            F.struct(score.alias("s"), F.lit(-int(cid)).alias("negcid"))
        )
    # ascending (score, negcid): last = max score, ties -> min cid
    ranked = F.reverse(F.array_sort(F.array(*structs)))
    top = F.slice(ranked, 1, min(nprobe, len(cents)))
    cids = F.transform(top, lambda x: (-x["negcid"]).cast("long"))
    if nprobe == 1:
        return df.withColumn(out_col, F.get(cids, 0))
    return df.withColumn(out_col, F.explode(cids))


def assign_centroids(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_col: str = "cid",
) -> DataFrame:
    """IVF coarse quantization: nearest-centroid cell id(s) per vector.

    The centroid table is collected to the driver (it is small by
    construction — IVF cell counts are ~sqrt(corpus)) and baked into
    the plan as literal arrays, so assignment is pure map-side work:
    zero shuffle, no join. Ties break to the lowest centroid id.
    With ``nprobe > 1`` each row fans out to its ``nprobe`` nearest
    cells (the multi-probe search path).
    """
    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(id_col, vec_col).collect()
    ]
    return _assign_from_list(df, cents, vec_col, nprobe, out_col)


def train_centroids_kmeans(
    df: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over the corpus — the trained-centroid upgrade
    for :func:`knn_ivf` (iterative algorithm as DataFrame ops).

    Deterministic: init = the ``n_centroids`` lowest-id vectors; each
    iteration assigns map-side (literal centroids — zero shuffle) and
    recomputes means with one posexplode+groupBy whose accumulators run
    in decimal (order-independent under partial aggregation). Only
    (cid, dim, mean) rows — k×d values — ever reach the driver.
    """
    base = df.select(id_col, vec_col)
    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in base.orderBy(id_col).limit(n_centroids).collect()
    ]
    dim = len(cents[0][1])
    for _ in range(n_iters):
        assigned = _assign_from_list(base, cents, vec_col, 1, "cid")
        rows = (
            assigned.select("cid", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(38,12)"))
                    / F.count("*")
                )
                .cast("double")
                .alias("m")
            )
            .collect()
        )
        means: dict[int, list[float]] = {}
        for r in rows:
            means.setdefault(int(r["cid"]), [0.0] * dim)[int(r["pos"])] = r["m"]
        # empty cells keep their previous centroid
        cents = [
            (cid, means.get(cid, vec)) for cid, vec in cents
        ]
    return cents


def knn_ivf_trained(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    n_centroids: int = 8,
    n_iters: int = 3,
) -> DataFrame:
    """IVF search over k-means-trained cells (better-balanced than
    picking arbitrary corpus vectors as centroids)."""
    cents = train_centroids_kmeans(
        corpus, n_centroids, n_iters, id_col, vec_col
    )
    ca = _assign_from_list(corpus, cents, vec_col, 1, "cid").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        "cid",
    )
    qa = _assign_from_list(queries, cents, vec_col, nprobe, "cid").select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "cid",
    )
    # r13: cell-cogrouped Arrow scorer (see knn_brute_force) — the cell
    # id IS the block key, so candidate generation still touches only
    # probed cells and the scores/order are bit-identical to the old
    # broadcast-join + interpreted-fold plan
    return _cogroup_topk(
        ca,
        qa,
        "cid",
        k,
        queries.schema[id_col].dataType,
        corpus.schema[id_col].dataType,
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF cells — the scale
    path next to :func:`knn_brute_force`.

    Corpus rows are assigned to their nearest cell map-side; each query
    probes its ``nprobe`` nearest cells. The only join is a broadcast
    equi-join on the cell id, so candidate generation touches
    |corpus| × (probed fraction) pairs instead of |corpus| × |queries|.
    """
    ca = assign_centroids(
        corpus, centroids, id_col, vec_col, nprobe=1
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        "cid",
    )
    qa = assign_centroids(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "cid",
    )
    # r13: cell-cogrouped Arrow scorer — same exactness story as
    # knn_brute_force; the cell id is the natural block key
    return _cogroup_topk(
        ca,
        qa,
        "cid",
        k,
        queries.schema[id_col].dataType,
        corpus.schema[id_col].dataType,
    )


def planted_copies(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_offset: int = 1_000_000,
    dim: int = 64,
) -> DataFrame:
    """Corpus ∪ deterministic near-duplicate copies (cosine ≈ 0.999996).

    The testdata embeddings have no natural near-dups (max pairwise
    cosine ≈ 0.51), so dedup queries plant one: each vector gets a copy
    (id + offset) with every component scaled by 1 ± 0.005 via a Knuth
    hash of (id, dim) — pure integer-and-double arithmetic that the
    DuckDB oracle reproduces bit-for-bit (:data:`PLANTED_UNION_SQL`
    must stay in lockstep with this function).
    """
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    base_id = F.col(id_col)

    def scale(v: Column, j: Column) -> Column:
        h = ((base_id * dim + j) * F.lit(2654435761)) % F.lit(4294967296)
        return v.cast("double") * (1 + (h % 11 - 5) / F.lit(1000.0))

    copies = df.withColumn(vec_col, F.zip_with(F.col(vec_col), idx, scale))
    copies = copies.withColumn(id_col, F.col(id_col) + F.lit(id_offset))
    orig = df.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )
    return orig.unionByName(copies)


# oracle mirror of planted_copies — identical literals and fold order
PLANTED_UNION_SQL = """
SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding,
       label
FROM embeddings
UNION ALL
SELECT vec_id + 1000000,
       list_transform(list_zip(embedding, range(0, 64)),
         p -> CAST(p[1] AS DOUBLE)
              * (1 + (((vec_id * 64 + p[2]) * 2654435761 % 4294967296) % 11
                      - 5) / 1000.0)),
       label
FROM embeddings
"""


def rhp_planes(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes (Charikar sign-LSH).

    Derived from a Knuth multiplicative hash of the (plane, dim) index —
    no RNG state, so Spark and the SQL oracle can bake the exact same
    literals into their plans.
    """
    planes = []
    for i in range(n_bits):
        row = []
        for j in range(dim):
            h = ((i * dim + j + 1) * 2654435761) % 4294967296
            row.append(1.0 if (h >> 16) & 1 else -1.0)
        planes.append(row)
    return planes


def rhp_band_keys(
    vec_col: Column, n_bits: int = 16, n_bands: int = 4, dim: int = 64
) -> list[Column]:
    """Per-band integer bucket keys from hyperplane sign bits.

    bit_i = [dot(v, plane_i) >= 0]; each band packs n_bits/n_bands
    bits into one small int. All JVM-side column arithmetic.
    """
    planes = rhp_planes(n_bits, dim)
    # NB: the plane dots deliberately use the interpreted HOF path (no
    # dim): unrolling 32 plane dots × 64 literal terms bloats codegen
    # enough to cost 7x more than interpretation (measured sf0.1) —
    # there are only n_bands rows' worth of key work per vector, unlike
    # the per-candidate-pair verification dot where unrolling wins.
    bits = [
        F.when(
            _dot(vec_col, F.array(*[F.lit(x) for x in p])) >= 0, F.lit(1)
        ).otherwise(F.lit(0))
        for p in planes
    ]
    per_band = n_bits // n_bands
    keys = []
    for b in range(n_bands):
        key = F.lit(0)
        for p in range(per_band):
            key = key + bits[b * per_band + p] * F.lit(2 ** p)
        keys.append(key)
    return keys


def rhp_band_keys_pandas(
    vec_col: str = "embedding", n_bits: int = 16, n_bands: int = 4,
    dim: int = 64,
) -> Column:
    """Arrow-vectorized band keys — one numpy matmul per batch against
    the same deterministic ±1 planes, parity-tested against the native
    :func:`rhp_band_keys` expression.

    The native form evaluates n_bits interpreted plane dots per vector
    (higher-order functions are CodegenFallback, ~1 µs per boxed
    element op — the dominant cost of the banded-LSH query). The sign
    of each dot is what matters, and signs agree between numpy's
    pairwise summation and the sequential fold unless a dot sits within
    float ulp of zero — impossible outside adversarial inputs for ±1
    planes over real-valued embeddings. A stateless map-side projection
    (vector in, n_bands small ints out): scale behavior identical to
    the native expression; only the per-batch engine differs.
    """
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(rhp_planes(n_bits, dim), dtype=np.float64)  # bits×dim
    per_band = n_bits // n_bands
    weights = (2 ** np.arange(per_band, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def _keys(vecs: pd.Series) -> pd.Series:
        arrs = np.stack(
            [np.asarray(v, dtype=np.float64) for v in vecs]
        )  # rows×dim
        bits = (arrs @ planes.T >= 0).astype(np.int64)  # rows×bits
        keys = bits.reshape(len(arrs), n_bands, per_band) @ weights
        return pd.Series(list(keys))

    return _keys(F.col(vec_col))


def rhp_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_bits: int = 16,
    n_bands: int = 4,
    dim: int = 64,
    use_arrow_keys: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs via random-hyperplane LSH.

    The scale path next to :func:`cosine_pairs_blocked` when no natural
    blocking key exists: each vector fans out to ``n_bands`` (band,
    bucket) rows, candidates come from an equi-join on (band, bucket) —
    never a cross product — and survivors are verified with the exact
    cosine.

    The band exchange is SLIM: only (id, band, key) rows shuffle —
    three ints per banded row — never the embedding array. Candidate
    pairs are deduped across bands while still id-only, then the two
    vectors are fetched by equi-join on id, so each embedding crosses
    the wire once per side and each surviving pair's cosine is computed
    exactly once (not once per colliding band).

    The source projection feeds three plan branches (band keys + both
    vector-fetch sides); both derived tables are persisted because every
    branch would otherwise re-evaluate the interpreted plane dots and
    any expression-defined vec_col (planted_copies) from scratch —
    measured 2x end-to-end at sf0.1. Cache ownership: the caller clears
    after materializing.
    """
    if use_arrow_keys:
        key_arr = rhp_band_keys_pandas(vec_col, n_bits, n_bands, dim)
    else:
        key_arr = F.array(*rhp_band_keys(F.col(vec_col), n_bits, n_bands, dim))
    # persist the banded rows: the self-join would otherwise evaluate
    # the n_bits plane-dots once PER SIDE (2x the dominant cost), and
    # any expression-defined vec_col (e.g. planted_copies' zip_with)
    # would recompute under each branch. The cached form is three ints
    # per banded row — O(n_bands * corpus) — and the caller owns the
    # cache (bench/tests clearCache after materializing).
    slim = df.select(
        F.col(id_col),
        F.posexplode(key_arr).alias("band", "key"),
    ).persist()
    left, right = slim.alias("l"), slim.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    vecs = df.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    ).persist()
    a = vecs.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    score = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(score, 6).alias("score"))
        .filter(F.col("score") >= threshold)
    )


def _group_pair_scores(pdf: pd.DataFrame, ansi: bool):
    """Within-group pair scorer shared by cosine_pairs_blocked and
    semdedup: yields (i, j, score_or_None) over the group's rows sorted
    by id ascending, for every pair with id[i] < id[j] STRICTLY — the
    old self-join's ``l.id < r.id`` predicate (null/equal ids never
    pair). Scores are the bit-exact fold; under ANSI a zero denominator
    on any generated pair raises like the old projection did."""
    ids = pdf["_id"].to_numpy()
    vs = pdf["_v"].to_numpy()
    valid = pdf["_id"].notna().to_numpy()
    vi = np.flatnonzero(valid)
    if len(vi) < 2:
        return ids, np.zeros(0, int), np.zeros(0, int), np.zeros(0), None
    order = vi[np.argsort(ids[vi], kind="stable")]
    sids = ids[order]
    svs = vs[order]
    m = len(order)
    w = None
    for v in svs:
        if v is None:
            w = -1
            break
        if w is None:
            w = len(v)
        elif len(v) != w:
            w = -1
            break
    ii, jj, ss = [], [], []
    nulls = []
    if w is not None and w > 0:
        V = np.stack(svs).astype(np.float64, copy=False)
        scores, den = _fold_cosine_matrix(V, V)
        idx_i, idx_j = np.triu_indices(m, k=1)
        differ = sids[idx_i] != sids[idx_j]
        idx_i, idx_j = idx_i[differ], idx_j[differ]
        if ansi and (den[idx_i, idx_j] == 0.0).any():
            raise ArithmeticError(
                "[DIVIDE_BY_ZERO] Division by zero (zero-norm vector "
                "in blocked cosine; matches spark.sql.ansi.enabled)"
            )
        return ids, order[idx_i], order[idx_j], scores[idx_i, idx_j], None
    # cold path: ragged / null vectors, scalar replica
    for a in range(m):
        for b in range(a + 1, m):
            if sids[a] == sids[b]:
                continue
            s = _pair_score_exact(svs[a], svs[b], ansi)
            ii.append(order[a])
            jj.append(order[b])
            ss.append(np.nan if s is None else s)
            nulls.append(s is None)
    return (
        ids,
        np.asarray(ii, int),
        np.asarray(jj, int),
        np.asarray(ss, dtype=np.float64),
        np.asarray(nulls, dtype=bool),
    )


def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs above a cosine threshold within a blocking
    key.

    r13: one hash exchange on the block key + a grouped Arrow task per
    block replaces the persisted self-join — Σ block_size² scoring work
    unchanged (that bound comes from the blocking design), but each
    pair costs a SIMD flop instead of an interpreted fold, and the big
    side shuffles once instead of twice. Scores are bit-for-bit the old
    plan's (see knn_brute_force)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    t = float(threshold)
    ansi = (
        df.sparkSession.conf.get("spark.sql.ansi.enabled", "true")
        == "true"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, ii, jj, ss, null_mask = _group_pair_scores(pdf, ansi)
        if len(ii) == 0:
            keep = np.zeros(0, dtype=bool)
        else:
            with np.errstate(invalid="ignore"):
                keep = ss >= t  # NaN (and null-scored) pairs fail >=
            if null_mask is not None:
                keep &= ~null_mask
        return pd.DataFrame(
            {
                "id_a": pd.Series(list(ids[ii[keep]]), dtype=object),
                "id_b": pd.Series(list(ids[jj[keep]]), dtype=object),
                "score": pd.Series(ss[keep], dtype="float64"),
            }
        )

    id_t = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField("id_a", id_t),
            StructField("id_b", id_t),
            StructField("score", DoubleType()),
        ]
    )
    d = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.col(block_col).alias("blk"),
    )
    return d.groupBy("blk").applyInPandas(fn, schema)


def semdedup(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023 "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the corpus
    by nearest centroid, then drop every vector that has a
    lower-id cluster-mate within ``threshold`` cosine — pairwise
    comparison happens only INSIDE clusters, which is the paper's trick
    for making semantic dedup sub-quadratic at web scale.

    Returns every input row with its cluster id and a ``is_kept``
    flag (kept = no lower-id near-duplicate in the same cluster; the
    lowest id of each duplicate neighborhood survives, deterministic
    in every engine).

    Scale: centroid assignment is map-side (broadcast literals, zero
    shuffle — see :func:`assign_centroids`); the only exchange hashes
    (id, cluster, vector) by cluster; the self-join's work is
    Σ cluster_size² — bounded by choosing k ≈ corpus/√corpus, NOT
    corpus². Raise k as the corpus grows (same invariant as the LSH
    band count, plans/driver_queries_extra.py:28-33).
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    t = float(threshold)
    ansi = (
        df.sparkSession.conf.get("spark.sql.ansi.enabled", "true")
        == "true"
    )

    # r13: one hash exchange on the cluster id + a grouped Arrow task
    # per cluster replaces self-join + distinct + join-back — the
    # Σ cluster_size² work bound is unchanged; per-pair cost drops to a
    # SIMD flop and the drop-flag attaches in place (zero joins).
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, ii, jj, ss, null_mask = _group_pair_scores(pdf, ansi)
        dup = np.zeros(len(pdf), dtype=bool)
        if len(ii):
            with np.errstate(invalid="ignore"):
                near = ss >= t
            if null_mask is not None:
                near &= ~null_mask
            # the HIGHER id of each qualifying pair is dropped (jj is
            # the strictly-greater-id side by construction)
            dup[jj[near]] = True
        return pd.DataFrame(
            {
                "_id": pd.Series(list(ids), dtype=object),
                "cid": pdf["cid"].reset_index(drop=True),
                "is_kept": pd.Series(~dup, dtype=bool),
            }
        )

    a = assign_centroids(
        df, centroids, id_col=id_col, vec_col=vec_col, out_col="cid"
    )
    d = a.select(
        F.col(id_col).alias("_id"),
        F.col("cid"),
        F.col(vec_col).alias("_v"),
    )
    schema = StructType(
        [
            StructField("_id", df.schema[id_col].dataType),
            StructField("cid", a.schema["cid"].dataType),
            StructField("is_kept", BooleanType()),
        ]
    )
    # r14: pin the cluster exchange's partition count — the grouped
    # scoring is compute-dense but tiny by BYTES, so AQE coalesced it
    # to one task and the Σ cluster_size² pair work serialized (stage
    # trace: 1 task, ~2.6 s of the query). An explicit numPartitions
    # repartition on the same key is the identical single exchange,
    # exempt from coalescing; parallelism stays bounded by the number
    # of clusters at any scale.
    d = d.repartition(
        d.sparkSession.sparkContext.defaultParallelism, F.col("cid")
    )
    return (
        d.groupBy("cid")
        .applyInPandas(fn, schema)
        .withColumnRenamed("_id", id_col)
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance (ADC) — the classic
# 100 TB embedding-compression path (Jégou et al., TPAMI'11): vectors
# compress 64×4 B floats → m=8 one-byte codes, and search scans codes
# with per-block lookup tables instead of touching raw vectors.
#
# All distance arithmetic happens on floor(x · 2^20) int64 grids:
# float→double widening and the double product are IEEE-exact, floor is
# tie-free, and integer sums are order-independent — so any SQL engine
# reproduces codes, quantization error, and ADC scores bit-for-bit
# (the numpy argmin and a dist-then-id sort break ties identically).
# --------------------------------------------------------------------------

PQ_M = 8          # sub-vector blocks
PQ_K = 16         # centroids per block
PQ_SCALE = 1 << 20


def pq_quantized(vec_col: Column | str) -> Column:
    """floor(x · 2^20) as int64 per dimension — the exact grid every PQ
    computation runs on."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * PQ_SCALE).cast("long")
    )


def pq_codebook(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = PQ_K,
):
    """Deterministic codebook: the quantized vectors of ids 0..k-1
    (first-k init — the standard k-means seeding; swap in
    train_centroids_kmeans output for trained codebooks). Bounded k×dim
    driver pull, same pattern as the IVF centroid pull."""

    rows = (
        df.filter(F.col(id_col) < k)
        .orderBy(id_col)
        .select(id_col, vec_col)
        .collect()
    )
    assert len(rows) == k, f"need ids 0..{k-1} present, got {len(rows)}"
    vecs = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return np.floor(vecs * PQ_SCALE).astype(np.int64)


def pq_encode(
    df: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode each vector as m nearest-centroid codes (+ total squared
    quantization error on the integer grid). Arrow-vectorized: the
    (k, m, sub) codebook rides the UDF closure (k·dim ints — tiny);
    per batch it is one broadcasting subtract + argmin, no state, no
    shuffle. Ties break to the smallest centroid id (np.argmin
    first-occurrence == ORDER BY dist, cid)."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    k, dim = codebook.shape
    sub = dim // m
    cb = codebook.reshape(k, m, sub)  # (k, m, sub)

    @F.pandas_udf(
        StructType(
            [
                StructField("codes", ArrayType(IntegerType())),
                StructField("qerr", LongType()),
            ]
        )
    )
    def _encode(vecs: pd.Series) -> pd.DataFrame:
        codes_out, err_out = [], []
        for v in vecs:
            qv = np.floor(
                np.asarray(v, dtype=np.float64) * PQ_SCALE
            ).astype(np.int64).reshape(m, sub)
            # (k, m, sub) - (m, sub) -> (k, m, sub); integer sums are
            # order-independent, so axis-sum order cannot diverge
            d = ((cb - qv) ** 2).sum(axis=2)  # (k, m)
            codes = d.argmin(axis=0)  # (m,) first-min ties
            codes_out.append([int(c) for c in codes])
            err_out.append(int(d[codes, np.arange(m)].sum()))
        return pd.DataFrame({"codes": codes_out, "qerr": err_out})

    keep = [F.col(c) for c in (keep_cols or [])]
    enc = df.select(
        F.col(id_col), *keep, _encode(F.col(vec_col)).alias("e")
    )
    return enc.select(id_col, *keep, F.col("e.codes").alias("codes"),
                      F.col("e.qerr").alias("qerr"))


def pq_adc_lut(codebook, query_q, m: int = PQ_M):
    """Asymmetric-distance lookup table: lut[b][j] = squared distance
    from the query's block b to centroid j — computed once on the
    driver (m·k ints), applied as literal arrays in a native
    expression."""
    k, dim = codebook.shape
    sub = dim // m
    cb = codebook.reshape(k, m, sub)

    qq = np.asarray(query_q, dtype=np.int64).reshape(m, sub)
    d = ((cb - qq) ** 2).sum(axis=2)  # (k, m)
    return [[int(d[j, b]) for j in range(k)] for b in range(m)]


def pq_adc_topk(
    encoded: DataFrame,
    lut,
    id_col: str = "vec_id",
    k_top: int = 20,
) -> DataFrame:
    """Top-k by ADC score over the code table — a NATIVE projection
    (element_at into literal per-block LUT arrays summed across blocks)
    plus a k-row ordered limit; the raw vectors are never read. This is
    the PQ payoff: the scan touches m bytes + m array lookups per row."""
    adist = None
    for b, row in enumerate(lut):
        term = F.element_at(
            F.array(*[F.lit(x) for x in row]),
            F.element_at("codes", b + 1) + 1,
        )
        adist = term if adist is None else adist + term
    assert adist is not None
    return (
        encoded.select(F.col(id_col), adist.alias("adist"))
        .orderBy("adist", id_col)
        .limit(k_top)
    )


def knn_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    m: int = PQ_M,
) -> DataFrame:
    """IVF + PQ composed — the full ANN scale path (Jégou et al. 2011):
    the coarse quantizer prunes candidates to the probed cells, then
    asymmetric distance on the PQ integer grid scores them without ever
    re-reading raw candidate vectors.

    Plan shape: corpus rows are cell-assigned map-side and PQ-encoded
    in the same pass (Arrow batch, ``keep_cols`` carries the cell id
    through the encoder); queries broadcast to their probed cells, so
    the only join is the broadcast equi-join on cell id. Each scored
    pair reconstructs the candidate's grid from the LITERAL codebook
    (16 x dim ints baked into the plan — the same bounded-constant
    pattern as the IVF centroid literals) and folds one integer
    ``(q - recon)^2`` sum; diffs < 2^21 keep the 64-dim sum < 2^48,
    exact in int64 for any engine. At 100 TB the candidate table is
    8-byte codes instead of 256-byte vectors — the 32x scan reduction
    is the PQ payoff; the per-query literal-LUT variant
    (:func:`pq_adc_topk`) stays the single-query fast path.

    Returns (query_id, neighbor_id, adist, rank), rank 1..k by
    ascending ADC distance (deterministic (adist, id) tie-break).
    """
    k_cb, dim = codebook.shape
    sub = dim // m
    cb_lit = F.array(
        *[
            F.array(*[F.lit(int(x)) for x in row])
            for row in codebook.tolist()
        ]
    )
    assigned = assign_centroids(corpus, centroids, id_col, vec_col, nprobe=1)
    enc = pq_encode(
        assigned, codebook, id_col, vec_col, m=m, keep_cols=["cid"]
    )
    qa = assign_centroids(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    ).select(
        F.col(id_col).alias("query_id"),
        pq_quantized(vec_col).alias("qgrid"),
        "cid",
    )
    recon = F.flatten(
        F.transform(
            "codes",
            lambda c, b: F.slice(
                F.element_at(cb_lit, c + 1), b * sub + 1, sub
            ),
        )
    )
    scored = (
        enc.join(F.broadcast(qa), "cid")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.aggregate(
                F.zip_with(
                    F.col("qgrid"), recon, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_train_codebook(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    n_iters: int = 3,
):
    """Trained PQ codebook: independent Lloyd's k-means per sub-vector
    block (the textbook PQ training), reusing
    :func:`train_centroids_kmeans` on each block's slice. Row j of the
    returned (k, dim) grid concatenates block b's centroid j — the
    layout :func:`pq_encode` reshapes back to (k, m, sub). Driver cost
    is m × (k·sub) centroid pulls; all heavy work stays distributed."""
    dim = len(df.select(vec_col).first()[0])
    sub = dim // m
    blocks = []
    for b in range(m):
        sliced = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), b * sub + 1, sub).alias(vec_col),
        )
        cents = train_centroids_kmeans(
            sliced, n_centroids=k, n_iters=n_iters,
            id_col=id_col, vec_col=vec_col,
        )
        blocks.append([cv for _, cv in cents])  # (k, sub) floats
    rows = [
        [x for b in range(m) for x in blocks[b][j]] for j in range(k)
    ]
    return np.floor(
        np.asarray(rows, dtype=np.float64) * PQ_SCALE
    ).astype(np.int64)


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimension reduction)
# --------------------------------------------------------------------------

JL_SCALE = 1 << 20  # component quantization grid (exact in double)


def _jl_sign(i: int, j: int) -> int:
    """Deterministic ±1 from md5("i#j") first-nibble parity — the
    Achlioptas sign-matrix entry, engine-portable (the DuckDB oracle
    computes the identical value from the identical digest)."""
    import hashlib

    h = hashlib.md5(f"{i}#{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 1 else -1


def random_projection(
    df: DataFrame,
    d_out: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d_in: int = EMBED_DIM,
) -> DataFrame:
    """JL random projection to ``d_out`` dims (Achlioptas ±1 matrix,
    "Database-friendly random projections", PODS'01) — the standard
    shrink step before ANN indexing / pairwise similarity at scale.

    Entirely map-side: the sign matrix is resolved to plan-time
    literals (it depends only on (i, j), not on data), each output
    component is a ``zip_with``+``aggregate`` fold over the input
    array, and nothing shuffles. Values are exact: inputs quantize to
    a 2^20 integer grid (float→double is exact, ×2^20 of a float is
    exact in double), the signed sums are BIGINT, and the final
    ÷(2^20·√d_out) happens once per component with √d_out restricted
    to exact integers (d_out must be a perfect square) — so the DuckDB
    oracle reproduces every bit.

    Scale notes: output is d_out doubles per row regardless of d_in;
    cost is O(d_in · d_out) integer multiply-adds per row inside one
    projection — no join against a model table, no shuffle, no UDF.
    A wrong-width input row fails the job loudly (``raise_error``)
    instead of zip_with null-padding its way to an all-NULL vector.
    """
    root = int(d_out ** 0.5)
    if root * root != d_out:
        raise ValueError(
            f"d_out must be a perfect square for exact ÷sqrt scaling, "
            f"got {d_out}"
        )
    # The whole projection is ONE F.expr string, parsed JVM-side in a
    # single py4j call: the Column-object formulation (16 sign arrays ×
    # 64 F.lit each + nested lambdas) spent ~4 s per query just on
    # py4j round-trips BUILDING the plan — measured, execution itself
    # is ~1 s. The quantized array is let-bound via the 1-element
    # transform trick (HOFs run interpreted; CSE does not cross lambda
    # scopes — see minhash_signature), so quantization happens once,
    # not d_out times. A wrong-width row hits raise_error instead of
    # zip_with null-padding its way to an all-NULL vector.
    scale = float(JL_SCALE * root)

    def signs_sql(j: int) -> str:
        return (
            "array("
            + ",".join(f"{_jl_sign(i, j)}L" for i in range(d_in))
            + ")"
        )

    def comp_sql(j: int) -> str:
        return (
            "round(cast(aggregate(zip_with(qq, "
            + signs_sql(j)
            + ", (a, b) -> a * b), 0L, (acc, x) -> acc + x) as double)"
            + f" / {scale}D, 6)"
        )

    qexpr = (
        f"transform(`{vec_col}`, "
        f"v -> cast(round(cast(v as double) * {JL_SCALE}) as bigint))"
    )
    proj = (
        "element_at(transform(array(" + qexpr + "), qq -> array("
        + ",".join(comp_sql(j) for j in range(d_out))
        + ")), 1)"
    )
    guarded = (
        f"CASE WHEN size(`{vec_col}`) = {d_in} THEN {proj} "
        f"ELSE raise_error(concat("
        f"'random_projection: expected {d_in}-dim vector, got ', "
        f"cast(size(`{vec_col}`) as string))) END"
    )
    return df.select(F.col(id_col), F.expr(guarded).alias("projected"))


# --------------------------------------------------------------------------
# IVF index persistence — build once, query many
# --------------------------------------------------------------------------

def save_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index: k-means centroids +
    corpus assignments written as parquet PARTITIONED BY the cell id —
    so a later query's ``nprobe`` cell selection becomes storage-level
    partition PRUNING (the scan never opens unprobed cells' files).
    The in-session operators re-train/re-assign per query; this is the
    production shape where the corpus is indexed once per version and
    queried many times.

    Layout: ``{path}/centroids`` (cid, vec — k rows),
    ``{path}/assignments`` (id, vec, norm, cid; partitioned by cid).
    """
    cents = train_centroids_kmeans(
        corpus, n_centroids, n_iters, id_col, vec_col
    )
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        f"cid int, {vec_col} array<float>",
    )
    cent_df.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = _assign_from_list(corpus, cents, vec_col, 1, "cid").select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("c_norm"),
        "cid",
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(
        f"{path}/assignments"
    )


def knn_ivf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Top-k cosine search against a :func:`save_ivf_index` index.

    The (small, k×d) centroid table is collected once and baked into
    the query-assignment projection as literals; the probed cell ids
    — known driver-side because queries are small by contract — form
    a literal ``cid IN (...)`` predicate on the partitioned
    assignments scan, so unprobed cells are pruned BEFORE any I/O
    (verify: PartitionFilters in the scan node). Everything after the
    pruned scan is the same broadcast equi-join + per-query top-k as
    :func:`knn_ivf`.
    """
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = [
        (int(r["cid"]), [float(x) for x in r[vec_col]]) for r in cent_rows
    ]
    qa = _assign_from_list(queries, cents, vec_col, nprobe, "cid").select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        "cid",
    )
    probed = sorted(
        {int(r["cid"]) for r in qa.select("cid").distinct().collect()}
    )
    ca = (
        spark.read.parquet(f"{path}/assignments")
        .filter(F.col("cid").isin(probed))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            "c_norm",
            "cid",
        )
    )
    scored = (
        ca.join(F.broadcast(qa), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
