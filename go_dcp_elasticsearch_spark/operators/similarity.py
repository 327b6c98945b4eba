"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, one scan, JVM-side arithmetic
(zip_with + aggregate in float64; no Python in the hot path). Scale path:
random-hyperplane LSH bucketing so candidate generation is bucket-local
(probe multiple neighboring buckets for recall), then exact re-rank of
candidates only.
"""

from __future__ import annotations

import numpy as np

from go_dcp_elasticsearch_spark.functions.bm25 import round6_expr
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cosine_expr(a: Column, b: Column) -> Column:
    """Exact cosine in float64, whole-stage-codegen'd (no UDF)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k vs one query vector.

    orderBy(...).limit(k) compiles to TakeOrdered: per-partition heaps +
    driver merge of n_partitions*k rows — no global sort shuffle, which is
    what makes this the right baseline even at 10^9 vectors.
    """
    q = F.lit(np.asarray(query_vec, dtype=np.float64).tolist()).cast("array<double>")
    scored = df.select(
        F.col(id_col),
        round6_expr(cosine_expr(F.col(vec_col).cast("array<double>"), q)).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def md5_planes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic Rademacher (+-1) hyperplanes derived from md5 so ANY
    engine (Spark, numpy, DuckDB SQL) reproduces identical buckets:
    plane[p][d] = +1 if the first hex nibble of md5(f"{seed}:{p}:{d}") < 8
    else -1. Sign random projection with +-1 entries is a standard LSH
    family for cosine (the sign of <v, r> with Rademacher r); deriving the
    entries from md5 (not a process RNG) is what makes the ANN operators
    oracle-checkable end-to-end."""
    import hashlib

    m = np.empty((n_planes, dim))
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            m[p, d] = 1.0 if int(h[0], 16) < 8 else -1.0
    return m


def lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string of <v, plane_i>.

    Planes are deterministic md5-derived +-1 literals (md5_planes); the
    projection is zip_with/aggregate per plane — all JVM-side. Vectors in
    the same bucket are ANN candidates; self-join on bucket stays local
    after a single hash-shuffle on the (short) bucket key.
    """
    planes = md5_planes(n_planes, dim, seed)
    v = F.col(vec_col).cast("array<double>")
    bits = []
    for i in range(n_planes):
        p = F.lit(planes[i].tolist()).cast("array<double>")
        dot = F.aggregate(F.zip_with(v, p, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b)
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select(F.col(id_col), F.concat(*bits).alias("bucket"))


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF coarse quantization: cell = argmax cosine(v, centroid), ties
    broken by lowest centroid id. All JVM expressions (one struct per
    centroid, array_sort argmax) — no UDF, whole-stage codegen'd."""
    v = F.col(vec_col).cast("array<double>")
    scored = []
    for cid, cv in centroids:
        c = F.lit(list(map(float, cv))).cast("array<double>")
        scored.append(
            F.struct((-cosine_expr(v, c)).alias("neg"), F.lit(int(cid)).alias("cid"))
        )
    best = F.array_sort(F.array(*scored))[0]
    return df.select(F.col(id_col), F.col(vec_col), best["cid"].alias("cell"))


def train_ivf_codebook(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_iters: int = 5,
    seed: int = 42,
) -> list[tuple[int, list[float]]]:
    """Deterministic distributed spherical k-means — the trained coarse
    quantizer for ``ivf_assign``/``ivf_topk``.

    Determinism (no process RNG, fixed iteration count, so retrains and
    resumed jobs produce bit-identical codebooks):
      init   = the n_cells vectors with the smallest md5(f"{seed}:{id}")
               (a deterministic pseudo-random sample via TakeOrdered —
                per-partition heaps, no sort shuffle);
      assign = argmax cosine against the broadcast centroid matrix, one
               numpy matmul per Arrow batch (vectors are L2-normalized
               once per batch; ties break to the lowest cell id, matching
               ivf_assign);
      update = normalized mean of members (spherical k-means); an emptied
               cell keeps its previous centroid.

    Scale shape per iteration: one corpus scan emitting n_cells partial
    (sum, count) rows per PARTITION, reduced by a groupBy("cell") stage to
    n_cells rows before the driver sees anything — the driver never holds
    more than the codebook. The codebook itself is tiny (n_cells x dim)
    and broadcast by closure capture.
    """
    import pandas as pd

    seeds = (
        df.select(
            F.md5(
                F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
            ).alias("_h"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy("_h")
        .limit(n_cells)
        .collect()
    )
    if not seeds:
        raise ValueError("train_ivf_codebook: empty corpus (no vectors to seed)")
    cents = np.asarray([r["_v"] for r in seeds], dtype=np.float64)
    n_cells = len(cents)
    dim = cents.shape[1]

    vecs = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    partial_schema = "cell int, n long, vsum array<double>"
    for _ in range(int(n_iters)):
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

        def partials(iterator, cn=cn):
            sums = np.zeros((n_cells, dim))
            counts = np.zeros(n_cells, dtype=np.int64)
            for pdf in iterator:
                if not len(pdf):
                    continue
                V = np.stack(pdf["_v"].to_numpy())
                Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
                cell = np.argmax(Vn @ cn.T, axis=1)  # first max = lowest cid
                np.add.at(sums, cell, V)
                counts += np.bincount(cell, minlength=n_cells)
            yield pd.DataFrame(
                {"cell": range(n_cells), "n": counts, "vsum": list(sums)}
            )

        def combine(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "cell": [int(pdf["cell"].iloc[0])],
                    "n": [int(pdf["n"].sum())],
                    "vsum": [np.stack(pdf["vsum"].to_numpy()).sum(axis=0)],
                }
            )

        rows = (
            vecs.mapInPandas(partials, schema=partial_schema)
            .groupBy("cell")
            .applyInPandas(combine, schema=partial_schema)
            .collect()
        )
        new = cents.copy()
        for r in rows:
            if r["n"] > 0:
                m = np.asarray(r["vsum"], dtype=np.float64) / float(r["n"])
                new[int(r["cell"])] = m / max(np.linalg.norm(m), 1e-12)
        cents = new
    return [(cid, cents[cid].tolist()) for cid in range(n_cells)]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-flat ANN: coarse quantizer of ``n_cells`` centroid vectors,
    probe the ``n_probe`` cells nearest to the query, exact cosine re-rank
    of candidates only.

    Default centroids are DETERMINISTIC — the n_cells lowest-id vectors —
    so the whole operator (assignment, probe set, re-rank) is reproducible
    in ANSI SQL and oracle-checked by the driver. Pass
    ``centroids=train_ivf_codebook(df, ...)`` for the trained quantizer
    (better recall on clustered embeddings; same plumbing: assignment is
    one scan, candidates one partition-pruned scan per probe set). Scale
    shape: candidate count ~ n_probe/n_cells of the corpus; no all-pairs
    anything.
    """
    if centroids is not None:
        cents = [(int(cid), list(map(float, cv))) for cid, cv in centroids]
    else:
        cents = [
            (int(r[id_col]), list(map(float, r[vec_col])))
            for r in df.filter(F.col(id_col) < n_cells)
            .select(id_col, vec_col)
            .collect()
        ]
    qv = np.asarray(query_vec, dtype=np.float64)

    def cos(c):
        c = np.asarray(c, dtype=np.float64)
        return float(c @ qv / (np.linalg.norm(c) * np.linalg.norm(qv)))

    probed = [cid for cid, cv in sorted(cents, key=lambda t: (-cos(t[1]), t[0]))[:n_probe]]
    assigned = ivf_assign(df, cents, vec_col, id_col)
    cands = assigned.filter(F.col("cell").isin(probed)).select(id_col, vec_col)
    return brute_force_topk(cands, query_vec, vec_col, id_col, k)


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_hamming: int = 3,
) -> DataFrame:
    """ANN top-k: probe buckets within ``max_hamming`` bit flips of the
    query's bucket, exact re-rank of candidates. Approximate by design
    (recall measured in tests against brute force) but DETERMINISTIC and
    engine-portable: planes come from md5_planes, so a SQL oracle derives
    the identical candidate set ("bucket within hamming <= h of the
    query's bucket" == the probe-neighbor expansion)."""
    planes = md5_planes(n_planes, dim, seed)
    qv = np.asarray(query_vec, dtype=np.float64)
    qbits = ["1" if planes[i] @ qv >= 0 else "0" for i in range(n_planes)]

    def neighbors(bits: list[str], flips: int) -> set[str]:
        """All buckets within ``flips`` bit flips (multi-probe set). The
        probe budget sum_{i<=flips} C(n_planes, i) trades recall vs
        candidate count; n_planes=8 / flips=3 is 93 buckets."""
        from itertools import combinations

        out = set()
        for r in range(flips + 1):
            for idxs in combinations(range(len(bits)), r):
                b = bits.copy()
                for i in idxs:
                    b[i] = "0" if b[i] == "1" else "1"
                out.add("".join(b))
        return out

    probe = sorted(neighbors(qbits, max_hamming))
    buckets = lsh_buckets(df, vec_col, id_col, n_planes, dim, seed)
    cands = buckets.filter(F.col("bucket").isin(probe)).select(id_col)
    cand_vecs = df.join(F.broadcast(cands), id_col)
    return brute_force_topk(cand_vecs, query_vec, vec_col, id_col, k)
