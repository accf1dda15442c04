"""Embedding similarity search.

- cosine_topk_bruteforce: exact top-k. Probes (small) are collected to a
  numpy matrix and closed over a mapInPandas stage; each Arrow batch of
  candidates is one (batch x probes) matmul, emitting only each batch's
  local top-k per probe; a final window rank produces the global top-k.
  Shuffle volume is O(partitions * probes * k), never O(candidates).
- cosine_topk_lsh / cosine_topk_ivf: scale paths — random-hyperplane
  signatures or coarse-quantizer lists bucket candidates; probes search
  their own buckets (multi-table OR / nprobe lists) through
  `dedup.banded_pairs`, exact rerank inside buckets. Recall < 1 by
  design; the brute-force path is the oracle.
- embedding_near_dup_pairs: the hyperplane-LSH self join, exact verify.

Every operator here reads the embeddings table's (vec_id, embedding).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmalyzer_spark.operators.dedup import _banded, banded_pairs

_ID_COL = "vec_id"
_VEC_COL = "embedding"
# hyperplane seeds and, for the near-dup self join, its plane and table
# counts; the q23/q24 oracles embed the same values
_TOPK_LSH_SEED = 11
_NEAR_DUP_SEED = 13
_NEAR_DUP_PLANES = 12
_NEAR_DUP_TABLES = 4


def _collect_probes(probes: DataFrame):
    rows = probes.select(_ID_COL, _VEC_COL).collect()
    ids = np.array([r[_ID_COL] for r in rows])
    mat = np.array([r[_VEC_COL] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat


def _cosine(a: str, b: str):
    """Exact cosine of two vector columns, summed in double."""

    def dot(x: str, y: str):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best (probe_id, cand_id, cosine) rows per probe, ties to the
    lower cand_id: (probe_id, cand_id, cosine rounded to 6, rank)."""
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def _keyed(df: DataFrame, keys) -> DataFrame:
    """`df` as a `banded_pairs` input: (id, keys, v)."""
    return df.select(
        F.col(_ID_COL).alias("id"), keys.alias("keys"), F.col(_VEC_COL).alias("v")
    )


def _probe_top_k(candidates, probes, cand_keys, probe_keys, k: int) -> DataFrame:
    """Exact cosine top-k over the `banded_pairs` of probes against
    candidates, each side bucketed by its own keys column."""
    pairs = banded_pairs(_keyed(candidates, cand_keys), _keyed(probes, probe_keys))
    return _top_k(
        pairs.select(
            F.col("id_a").alias("probe_id"),
            F.col("id_b").alias("cand_id"),
            _cosine("v_a", "v_b").alias("cosine"),
        ),
        k,
    )


def cosine_topk_bruteforce(
    candidates: DataFrame,
    probes: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of each probe against all other candidates.

    Output: (probe_id, cand_id, cosine, rank). Probe set must be
    driver-collectable (the usual ANN query shape); candidates stream.
    """
    probe_ids, probe_mat = _collect_probes(probes)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cand_ids = pdf["__cid"].to_numpy()
            mat = np.array(list(pdf["__cv"]), dtype=np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cos = mat @ probe_mat.T  # (batch, n_probes)
            same = cand_ids[:, None] == probe_ids[None, :]
            cos = np.where(same, -np.inf, cos)
            n_local = min(k, cos.shape[0])
            # local top-k per probe within this batch
            idx = np.argpartition(-cos, n_local - 1, axis=0)[:n_local]
            out = {
                "probe_id": np.repeat(probe_ids[None, :], n_local, axis=0).ravel(),
                "cand_id": cand_ids[idx].ravel(),
                "cosine": np.take_along_axis(cos, idx, axis=0).ravel(),
            }
            res = pd.DataFrame(out)
            yield res[np.isfinite(res["cosine"])]

    scored = candidates.select(
        F.col(_ID_COL).alias("__cid"), F.col(_VEC_COL).alias("__cv")
    ).mapInPandas(score, schema="probe_id long, cand_id long, cosine double")
    return _top_k(scored, k)


# Quantization scale for hyperplane signatures: components become
# floor(v * 2^20) int64, so the ±1-plane dot product is an exact,
# order-independent integer sum — one numpy matmul per Arrow batch here,
# bit-identical to a plain-SQL replay in the oracle, and no codegen
# blowup at real embedding dims (512–1536), unlike per-literal columns.
QUANT = 1 << 20


def hyperplane_planes(n_planes: int, dim: int, seed: int, table: int) -> np.ndarray:
    """±1 Rademacher planes, deterministic from (seed, table); exposed so
    oracle SQL generators embed the identical coefficients."""
    rng = np.random.default_rng(seed + 1000 * table)
    return rng.choice([-1.0, 1.0], size=(n_planes, dim)).astype(np.int64)


def hyperplane_signatures_col(vec_col: str, n_planes: int, n_tables: int, seed: int):
    """array<long> column of n_tables LSH bucket keys (bit j of key t =
    sign of quantized dot with plane j of table t)."""

    @F.pandas_udf("array<long>")
    def sig_udf(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        mat = np.array(list(vecs), dtype=np.float64)
        q = np.floor(mat * QUANT).astype(np.int64)
        dim = q.shape[1]
        shifts = np.arange(n_planes, dtype=np.int64)[None, :]
        keys = np.empty((len(vecs), n_tables), dtype=np.int64)
        for t in range(n_tables):
            dots = q @ hyperplane_planes(n_planes, dim, seed, t).T  # exact int64
            keys[:, t] = ((dots > 0).astype(np.int64) << shifts).sum(axis=1)
        return pd.Series(list(keys))

    return sig_udf(F.col(vec_col))


def cosine_topk_lsh(
    candidates: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 3,
) -> DataFrame:
    """Approximate cosine top-k: multi-table hyperplane LSH buckets, exact
    rerank within colliding buckets. Output schema matches brute force."""
    keys = _banded(hyperplane_signatures_col(_VEC_COL, n_planes, n_tables, _TOPK_LSH_SEED))
    return _probe_top_k(candidates, probes, keys, keys, k)


def ivf_assignments_col(
    vec_col: str, cent_ids: np.ndarray, cent_q: np.ndarray, nprobe: int
):
    """array<long> of the nprobe nearest centroid ids (ascending exact
    integer quantized L2; ties by centroid id). One matmul per batch."""
    sq_c = (cent_q * cent_q).sum(axis=1)

    @F.pandas_udf("array<long>")
    def assign(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        mat = np.array(list(vecs), dtype=np.float64)
        q = np.floor(mat * QUANT).astype(np.int64)
        d = (q * q).sum(axis=1, keepdims=True) - 2 * (q @ cent_q.T) + sq_c[None, :]
        # stable argsort + id-ascending columns == tie-break by centroid id
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(cent_ids[order]))

    return assign(F.col(vec_col))


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int,
    n_iter: int = 5,
    seed: int = 29,
) -> tuple[np.ndarray, np.ndarray]:
    """Seeded Lloyd's k-means over a vector column, as DataFrame passes.

    Production coarse quantizer for IVF (the deterministic id-based
    stand-in remains the oracle-gate path). Scale shape: each iteration is
    ONE distributed pass — a mapInPandas stage computes per-Arrow-batch
    partial (cluster, sum, count) rows against the broadcast centroid
    matrix (k x dim, tiny), and only those partials (O(batches * k) rows)
    reach the driver for the numpy reduce. No shuffle of the vectors.

    Deterministic: init picks the n_centroids rows with the smallest
    xxhash64(id, seed) — a seeded uniform draw computed as a distributed
    top-k (TakeOrdered, no global sort) — assignment ties break to the
    lowest cluster index, and empty clusters keep their previous centroid.

    Returns (cent_ids = arange(n_centroids), cent_mat float64 (k, dim)).
    """
    seed_rows = (
        df.select(F.col(_ID_COL).alias("__id"), F.col(_VEC_COL).alias("__v"))
        .withColumn("__h", F.xxhash64(F.col("__id"), F.lit(seed)))
        .orderBy("__h", "__id")
        .limit(n_centroids)
        .collect()
    )
    if len(seed_rows) < n_centroids:
        raise ValueError(
            f"need >= {n_centroids} rows to seed k-means, got {len(seed_rows)}"
        )
    cent = np.array([r["__v"] for r in seed_rows], dtype=np.float64)
    vecs = df.select(F.col(_VEC_COL).alias("__v"))

    for _ in range(n_iter):
        c = cent  # bind current value into the closure

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.array(list(pdf["__v"]), dtype=np.float64)
                d = (
                    (mat * mat).sum(axis=1, keepdims=True)
                    - 2.0 * (mat @ c.T)
                    + (c * c).sum(axis=1)[None, :]
                )
                cid = np.argmin(d, axis=1)  # first occurrence == lowest index
                rows = []
                for ci in np.unique(cid):
                    sel = mat[cid == ci]
                    rows.append((int(ci), sel.sum(axis=0).tolist(), int(sel.shape[0])))
                yield pd.DataFrame(rows, columns=["cid", "s", "n"])

        agg = vecs.mapInPandas(partials, "cid int, s array<double>, n long").collect()
        sums = np.zeros_like(cent)
        counts = np.zeros(len(cent), dtype=np.int64)
        for r in agg:
            sums[r["cid"]] += np.asarray(r["s"])
            counts[r["cid"]] += r["n"]
        nonempty = counts > 0
        new_cent = cent.copy()  # empty clusters keep their centroid
        new_cent[nonempty] = sums[nonempty] / counts[nonempty, None]
        if np.allclose(new_cent, cent, rtol=0, atol=1e-12):
            cent = new_cent
            break
        cent = new_cent
    return np.arange(n_centroids, dtype=np.int64), cent


def kmeans_centroids_exact(
    df: DataFrame,
    n_centroids: int,
    n_iter: int = 3,
    hash_mult: int = 2654435761,
    hash_mod: int = 1000003,
) -> tuple[np.ndarray, np.ndarray]:
    """Lloyd's k-means entirely in EXACT integer arithmetic, so the run is
    bit-reproducible in plain SQL (the q36 driver gate replays it in
    DuckDB, iteration by iteration).

    Same distributed shape as :func:`kmeans_centroids` (one partial-sum
    mapInPandas pass per iteration, no vector shuffle) with three exactness
    substitutions:

    * vectors are quantized ONCE: ``floor(float64(v) * QUANT)`` int64 —
      the same quantization every oracle here uses;
    * distances are integer L2 computed via float64 matmul, exact because
      every term is < 2**48 < 2**53;
    * centroid update is element-wise FLOOR DIVISION ``sum // count``
      (empty clusters keep their centroid), expressible in SQL as
      ``(s - ((s % n + n) % n)) // n``.

    Seeding is a portable multiplicative hash — the ``n_centroids`` rows
    with the smallest ``((id * hash_mult) % hash_mod, id)`` — instead of
    xxhash64 (which DuckDB lacks). Returns (cent_ids = arange(k), cent_q
    int64 (k, dim)) directly in quantized space: ready for
    ivf_assignments_col with NO further quantization.
    """
    seed_rows = (
        df.select(F.col(_ID_COL).alias("__id"), F.col(_VEC_COL).alias("__v"))
        .withColumn("__h", (F.col("__id") * F.lit(hash_mult)) % F.lit(hash_mod))
        .orderBy("__h", "__id")
        .limit(n_centroids)
        .collect()
    )
    if len(seed_rows) < n_centroids:
        raise ValueError(
            f"need >= {n_centroids} rows to seed k-means, got {len(seed_rows)}"
        )
    cent = np.floor(
        np.array([r["__v"] for r in seed_rows], dtype=np.float64) * QUANT
    ).astype(np.int64)
    vecs = df.select(F.col(_VEC_COL).alias("__v"))

    for _ in range(n_iter):
        c = cent.astype(np.float64)  # exact: |values| < 2**21

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                q = np.floor(
                    np.array(list(pdf["__v"]), dtype=np.float64) * QUANT
                )
                d = (
                    (q * q).sum(axis=1, keepdims=True)
                    - 2.0 * (q @ c.T)
                    + (c * c).sum(axis=1)[None, :]
                )
                cid = np.argmin(d, axis=1)  # first occurrence == lowest index
                qi = q.astype(np.int64)
                rows = []
                for ci in np.unique(cid):
                    sel = qi[cid == ci]
                    rows.append((int(ci), sel.sum(axis=0).tolist(), int(sel.shape[0])))
                yield pd.DataFrame(rows, columns=["cid", "s", "n"])

        agg = vecs.mapInPandas(partials, "cid int, s array<long>, n long").collect()
        sums = np.zeros_like(cent)
        counts = np.zeros(len(cent), dtype=np.int64)
        for r in agg:
            sums[r["cid"]] += np.asarray(r["s"], dtype=np.int64)
            counts[r["cid"]] += r["n"]
        nonempty = counts > 0
        new_cent = cent.copy()  # empty clusters keep their centroid
        new_cent[nonempty] = np.floor_divide(
            sums[nonempty], counts[nonempty, None]
        )
        if np.array_equal(new_cent, cent):
            break  # fixed point: further (SQL) iterations are no-ops
        cent = new_cent
    return np.arange(n_centroids, dtype=np.int64), cent


def cosine_topk_ivf(
    candidates: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 3,
    centroids: str = "by_id",
    kmeans_iter: int = 5,
) -> DataFrame:
    """IVF ANN: coarse quantizer buckets + exact cosine rerank.

    centroids="by_id" (the oracle-gate path): the centroid set is
    DETERMINISTIC — the rows with id < n_centroids (quantized like the
    signatures) — so assignment is an exact integer argmin reproducible in
    plain SQL. centroids="kmeans": seeded Lloyd's iterations
    (kmeans_centroids) — the production quantizer; recall vs brute force
    at equal nprobe is asserted in tests. Every other stage (broadcast
    assignment matmul, inverted-list bucket join through `banded_pairs`,
    exact rerank) is identical between the two. Candidates land in their
    single nearest list; probes search their nprobe nearest lists. Output
    schema matches the brute-force/LSH paths: (probe_id, cand_id, cosine,
    rank).
    """
    if centroids == "kmeans":
        cent_ids, cent_mat = kmeans_centroids(candidates, n_centroids, kmeans_iter)
        cent_q = np.floor(cent_mat * QUANT).astype(np.int64)
    elif centroids == "kmeans_exact":
        # integer-space Lloyd's (already quantized — see
        # kmeans_centroids_exact): the SQL-replayable production quantizer
        cent_ids, cent_q = kmeans_centroids_exact(candidates, n_centroids, kmeans_iter)
    elif centroids == "by_id":
        cent_rows = sorted(
            candidates.filter(F.col(_ID_COL) < n_centroids).select(_ID_COL, _VEC_COL).collect(),
            key=lambda r: r[_ID_COL],
        )
        cent_ids = np.array([r[_ID_COL] for r in cent_rows], dtype=np.int64)
        cent_q = np.floor(
            np.array([r[_VEC_COL] for r in cent_rows], dtype=np.float64) * QUANT
        ).astype(np.int64)
    else:
        raise ValueError(
            f"centroids must be 'by_id', 'kmeans' or 'kmeans_exact', got {centroids!r}"
        )

    return _probe_top_k(
        candidates,
        probes,
        ivf_assignments_col(_VEC_COL, cent_ids, cent_q, 1),
        ivf_assignments_col(_VEC_COL, cent_ids, cent_q, nprobe),
        k,
    )


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.98) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup tier 4): LSH-bucketed
    self-join through `banded_pairs`, exact cosine verify >= threshold."""
    keys = hyperplane_signatures_col(
        _VEC_COL, _NEAR_DUP_PLANES, _NEAR_DUP_TABLES, _NEAR_DUP_SEED
    )
    return (
        banded_pairs(_keyed(df, _banded(keys)))
        .withColumn("cosine", _cosine("v_a", "v_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )
