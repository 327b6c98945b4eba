"""Deduplication operators.

A7 parity (last-write-wins keyed upsert, bulk.go:179-195,596-608) plus the
near-duplicate family a training-data pipeline needs at 100 TB: exact
content dedup, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine.

Determinism-for-oracles design: every hash used by the SQL-checkable
operators is built from md5 hex strings — identical in Spark and DuckDB —
so the DuckDB oracle reproduces signatures bit-for-bit. (Spark's xxhash64 /
DuckDB's hash() would be faster but engine-specific; md5 keeps the
correctness gate meaningful. Swapping in xxhash64 is a one-line change at
cluster scale.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from go_dcp_elasticsearch_spark.functions.bm25 import round6_expr


def last_write_wins(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """A7: one row per key, newest (max order_col) wins; ties broken
    deterministically by the remaining column order via row_number."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: group identical content (md5), keep lowest id.

    At scale this is one hash-shuffle on a 16-byte key; the full text never
    shuffles (column pruned to hash + id).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingles_of_tokens(toks, n: int = 3):
    """Column expr: token array column -> n-word shingles (joined by space).

    Takes an already-materialized token COLUMN, not the tokenizer
    expression: an expression inlined into the transform lambda would be
    re-evaluated per shingle index (O(len^2) tokenization per doc).

    Guarded: Spark's sequence(1, 0) produces a DESCENDING range, so short
    docs must short-circuit to an empty array."""
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def minhash_band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 3,
    mode: str = "md5",
) -> DataFrame:
    """MinHash + LSH banding. Returns rows (id, band, bucket).

    ``mode="md5"`` (oracle-portable): signature_i(doc) = min over shingles
    s of hash_i(s), where hash_i is a disjoint 5-hex-char slice of
    md5(salt_d + s) with d = i // 6 and salt_d = "" for d=0, f"{d}|"
    otherwise (md5 bits are independent, so slices act as independent
    20-bit hash functions; extra salted digests extend past 6 hashes).
    Hex compares lexicographically the same everywhere, so the DuckDB
    oracle reproduces buckets bit-for-bit. For n_hashes <= 6 this is
    byte-identical to the historical single-digest scheme.

    ``mode="fast"`` (the 100 TB path, see ``minhash_lsh_pairs``): fully
    vectorized — tokens are hashed ONCE per doc with pandas'
    cython-vectorized keyed hash (``pandas.util.hash_array``, fixed
    hash_key, deterministic across executors), shingle hashes are an
    odd-constant polynomial over n consecutive token hashes (numpy
    slides, no shingle strings are ever built), h2 is a bit-mix of h1,
    and the n_hashes functions are h_i = h1 + i*h2 mod 2^64
    (Kirsch-Mitzenmacher) minimized in one broadcast. Zero per-shingle
    Python calls. Buckets are blake2b-64 of the band's signature bytes
    (n_bands digests per DOC, not per shingle). Not SQL-mirrorable.

    Default n_hashes=12 / band_size=3 restores the 4-band recall
    (P[candidate] = 1-(1-j^3)^4) that an earlier 6-hash default halved.

    Scale shape (both modes): the only shuffle is on (band, bucket);
    signatures are computed map-side inside one vectorized Arrow kernel —
    a pure-expression version is possible but Catalyst inlines the token
    array into every lambda use (no CSE across lambda bindings),
    re-tokenizing per shingle: O(len^2) per doc.
    """
    if mode not in ("md5", "fast"):
        raise ValueError(f"mode must be 'md5' or 'fast', got {mode!r}")
    n_bands = n_hashes // band_size

    def kernel(texts: pd.Series) -> pd.Series:
        import hashlib

        from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

        if mode == "fast":
            from itertools import chain

            import numpy as np

            from go_dcp_elasticsearch_spark.functions.hashing import (
                shingle_poly_u64,
                token_hashes_u64,
            )

            idx = np.arange(n_hashes, dtype=np.uint64)
            mix = np.uint64(0xC2B2AE3D27D4EB4F)
            toks_list = [tokenize_py(t) for t in texts]
            # ONE keyed-hash call for the whole Arrow batch's tokens
            th_all = token_hashes_u64(list(chain.from_iterable(toks_list)))
            out, off = [], 0
            for toks in toks_list:
                m = len(toks)
                th = th_all[off : off + m]
                off += m
                if m < shingle_n:
                    out.append(None)
                    continue
                h1 = shingle_poly_u64(th, shingle_n)
                h2 = (h1 ^ (h1 >> np.uint64(33))) * mix
                sig = (h1[:, None] + idx[None, :] * h2[:, None]).min(axis=0)
                out.append(
                    [
                        hashlib.blake2b(
                            sig[b * band_size : (b + 1) * band_size].tobytes(),
                            digest_size=8,
                        ).hexdigest()
                        for b in range(n_bands)
                    ]
                )
            return pd.Series(out)

        salts = ["" if d == 0 else f"{d}|" for d in range(-(-n_hashes // 6))]
        # r7: digest slices cached per UNIQUE shingle across the whole
        # Arrow batch — shingles repeat heavily within and across docs,
        # and the md5 calls were the kernel's hot loop (2x measured,
        # output asserted byte-identical in tests/test_dedup.py)
        sig_cache: dict[str, list[str]] = {}

        def shingle_sigs(s: str) -> list[str]:
            digs = [hashlib.md5((salt + s).encode()).hexdigest() for salt in salts]
            return [
                digs[i // 6][(i % 6) * 5 : (i % 6) * 5 + 5]
                for i in range(n_hashes)
            ]

        out = []
        for text in texts:
            toks = tokenize_py(text)
            if len(toks) < shingle_n:
                out.append(None)
                continue
            per = []
            for i in range(len(toks) - shingle_n + 1):
                s = " ".join(toks[i : i + shingle_n])
                v = sig_cache.get(s)
                if v is None:
                    v = sig_cache[s] = shingle_sigs(s)
                per.append(v)
            mh = [min(v[i] for v in per) for i in range(n_hashes)]
            out.append(
                [
                    hashlib.md5(
                        "|".join(mh[b * band_size : (b + 1) * band_size]).encode()
                    ).hexdigest()
                    for b in range(n_bands)
                ]
            )
        return pd.Series(out)

    from pyspark.sql.types import ArrayType, StringType

    buckets_udf = F.pandas_udf(kernel, ArrayType(StringType()))
    with_buckets = df.select(
        F.col(id_col).alias("id"), buckets_udf(F.col(text_col)).alias("_buckets")
    ).filter(F.col("_buckets").isNotNull())
    return with_buckets.select(
        "id", F.posexplode("_buckets").alias("band", "bucket")
    )


def minhash_candidate_pairs(
    buckets: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """LSH candidate pairs: ids sharing any (band, bucket), id_a < id_b.

    ``max_bucket_size``: scale guard — a degenerate bucket of m identical
    docs emits m^2 join rows pre-distinct; buckets above the cap are
    dropped (their members are still paired through their OTHER bands
    unless those are degenerate too — the standard production trade, same
    as ngram_jaccard_pairs' max_shingle_df). Off by default for oracle
    parity; turn ON at scale."""
    if max_bucket_size is not None:
        hot = (
            buckets.groupBy("band", "bucket")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band", "bucket")
        )
        buckets = buckets.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 3,
    scale_mode: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash near-dup candidate pairs, one call.

    ``scale_mode=True`` is THE single flag for the configuration you'd run
    at 100 TB: fast blake2b/Kirsch-Mitzenmacher hashing (mode="fast") AND
    the degenerate-bucket cap ON (max_bucket_size=256 unless overridden) —
    closing the gap between the oracle-parity defaults and the safe
    production config. scale_mode=False keeps the md5 SQL-mirrorable
    hashing and no caps (exact LSH semantics, DuckDB-checkable).
    """
    if scale_mode and max_bucket_size is None:
        max_bucket_size = 256
    buckets = minhash_band_buckets(
        df, text_col, id_col, n_hashes=n_hashes, band_size=band_size,
        shingle_n=shingle_n, mode="fast" if scale_mode else "md5",
    )
    return minhash_candidate_pairs(buckets, max_bucket_size=max_bucket_size)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    scale_mode: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle.

    |A ∩ B| via a shingle self-join with map-side distinct; |A ∪ B| =
    |A| + |B| - |A ∩ B|. The join is the scale risk: hot shingles fan out
    quadratically — production pipelines cap posting length per shingle
    (drop shingles with df above a cap, standard in MinHash dedup); the cap
    keeps the blow-up bounded and is exposed as ``max_shingle_df``.

    ``scale_mode=True``: the 100 TB config in one flag — shingles are
    replaced by a vectorized 64-bit hash BEFORE the distinct/self-join
    (tokens hashed once via pandas' cython keyed hash, shingle hash = an
    odd-constant polynomial over n consecutive token hashes; the shuffle
    moves 8-byte ints, not n-word strings, and no shingle string is ever
    built; 64-bit collisions are negligible at any corpus size) and
    ``max_shingle_df`` defaults ON (128). Default False keeps
    raw-shingle joins (exact, SQL-mirrorable).
    """
    if scale_mode and max_shingle_df is None:
        max_shingle_df = 128

    def shingle_kernel(texts: pd.Series) -> pd.Series:
        from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

        if scale_mode:
            from itertools import chain

            import numpy as np

            from go_dcp_elasticsearch_spark.functions.hashing import (
                shingle_poly_u64,
                token_hashes_u64,
            )

            toks_list = [tokenize_py(t) for t in texts]
            th_all = token_hashes_u64(list(chain.from_iterable(toks_list)))
            out, off = [], 0
            for toks in toks_list:
                m = len(toks)
                th = th_all[off : off + m]
                off += m
                if m < shingle_n:
                    out.append([])
                    continue
                out.append(
                    shingle_poly_u64(th, shingle_n).view(np.int64).tolist()
                )
            return pd.Series(out)

        def sh(text):
            toks = tokenize_py(text)
            return [
                " ".join(toks[i : i + shingle_n])
                for i in range(len(toks) - shingle_n + 1)
            ]

        return texts.map(sh)

    from pyspark.sql.types import ArrayType, LongType, StringType

    shingles_udf = F.pandas_udf(
        shingle_kernel, ArrayType(LongType() if scale_mode else StringType())
    )
    sh = (
        df.select(F.col(id_col).alias("id"), F.explode(shingles_udf(F.col(text_col))).alias("sh"))
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    if max_shingle_df is not None:
        # scale lever: a shingle shared by m docs contributes m^2 join rows;
        # dropping ultra-common shingles bounds the blow-up. NOTE: changes
        # the measured Jaccard (intersection misses capped shingles) — the
        # standard approximation in production near-dup mining. |A|,|B|
        # intentionally stay uncapped (sizes computed above the cap).
        hot = sh.groupBy("sh").agg(F.count("*").alias("_df")).filter(
            F.col("_df") > max_shingle_df
        )
        sh = sh.join(F.broadcast(hot.select("sh")), "sh", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    # NO broadcast hint on the sizes joins: sizes is one row PER DOCUMENT —
    # forcing a broadcast of a per-doc frame is an unconditional executor
    # OOM at corpus scale. A plain shuffle join on id is correct, and AQE
    # downgrades it to a broadcast join when the frame actually fits.
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", round6_expr(F.col("jaccard")).alias("jaccard"))
    )


# dedup_clusters' driver-side cap: a candidate graph whose pairs and nodes
# each fit in this many rows is solved on the driver
SMALL_GRAPH_MAX = 200_000


def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over near-dup candidate pairs: every node gets
    ``cluster_id`` = the smallest id reachable through the pair graph (its
    canonical representative; singletons keep their own id). This is the
    last stage of a dedup pipeline — MinHash/SimHash/embedding candidates
    in, one keeper per duplicate CLUSTER out (pairwise keep-lowest under-
    deletes transitive groups: A~B, B~C must collapse to one doc, not two).

    ``nodes``: one row per doc (id_col); ``pairs``: (id_a, id_b) edges.

    Algorithm: iterative min-label propagation to fixpoint — label(v) =
    min(label(v), min label of v's neighbors) per round, converging in
    O(component diameter) rounds (near-dup clusters are shallow; the cap
    is a safety rail, and hitting it raises rather than returning a
    half-converged labeling). Each round is one hash join + one
    aggregation on (id, label) pairs only — no content moves. The labels
    frame is re-persisted per round and the previous round unpersisted
    (lineage would otherwise grow unboundedly). Deterministic: min is
    order-free.
    """
    # r7 small-graph fast path: near-dup candidate graphs are tiny next to
    # the corpus (the whole point of LSH), and each propagation round costs
    # two fixed-overhead Spark jobs. When BOTH the pairs and the node list
    # fit a driver cap (SMALL_GRAPH_MAX rows), the components are
    # computed driver-side with the IDENTICAL contract:
    # cluster_id = min reachable id, and the max_iters rail still raises
    # when min-label propagation would not have converged in max_iters
    # rounds (a component converges in ecc+1 rounds, where ecc is the max
    # BFS distance from its min-id node). Big graphs keep the distributed
    # loop unchanged.
    edge_rows = pairs.select("id_a", "id_b").limit(SMALL_GRAPH_MAX + 1).collect()
    if len(edge_rows) <= SMALL_GRAPH_MAX:
        node_rows = (
            nodes.select(F.col(id_col).alias("id")).limit(SMALL_GRAPH_MAX + 1).collect()
        )
        if len(node_rows) <= SMALL_GRAPH_MAX:
            return _dedup_clusters_driver(
                nodes, id_col, node_rows, edge_rows, max_iters
            )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    cached = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("cluster_id")
    ).persist()
    cached.count()
    labels = cached
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id, "inner")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cluster_id").alias("_nmin"))
        )
        # a row changes exactly when a neighbor's label beats its own, so
        # the fixpoint test rides the SAME join (one join per round, not a
        # second new-vs-old comparison join)
        new_cached = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
                F.coalesce(
                    F.col("_nmin") < F.col("cluster_id"), F.lit(False)
                ).alias("_changed"),
            )
            .persist()
        )
        changed = new_cached.filter(F.col("_changed")).count()
        cached.unpersist()
        cached = new_cached
        labels = new_cached.drop("_changed")
        if changed == 0:
            break
    else:
        edges.unpersist()
        cached.unpersist()
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            "(pathological component diameter); raise max_iters"
        )
    edges.unpersist()
    # the result stays persisted (iterative lineage would otherwise be
    # recomputed N-deep by every consumer); callers that are done with it
    # should call .unpersist() via the attached handle
    labels._persisted_parent = cached
    return labels


def _dedup_clusters_driver(
    nodes: DataFrame, id_col: str, node_rows, edge_rows, max_iters: int
) -> DataFrame:
    """Driver-side connected components for small candidate graphs — the
    exact semantics of the distributed min-label loop (see
    dedup_clusters): labels propagate only through edges whose BOTH
    endpoints are nodes, cluster_id = min node id reachable, and the
    max_iters safety rail raises iff the distributed loop would not have
    detected convergence within max_iters rounds (ecc + 1, ecc = max BFS
    distance from the component's min-id node)."""
    from collections import deque

    ids = [r["id"] for r in node_rows]
    id_set = set(ids)
    adj: dict = {}
    for r in edge_rows:
        a, b = r["id_a"], r["id_b"]
        if a in id_set and b in id_set and a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    label = {}
    max_rounds_needed = 1  # singleton graphs converge on the first probe
    seen: set = set()
    for start in ids:
        if start in seen:
            continue
        comp = [start]
        seen.add(start)
        q = deque([start])
        while q:
            v = q.popleft()
            for w in adj.get(v, ()):
                if w not in seen:
                    seen.add(w)
                    comp.append(w)
                    q.append(w)
        root = min(comp)
        # ecc from the min-id node bounds the propagation rounds
        dist = {root: 0}
        q = deque([root])
        ecc = 0
        while q:
            v = q.popleft()
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    ecc = max(ecc, dist[w])
                    q.append(w)
        max_rounds_needed = max(max_rounds_needed, ecc + 1)
        for v in comp:
            label[v] = root
    if max_rounds_needed > max_iters:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            "(pathological component diameter); raise max_iters"
        )
    from go_dcp_elasticsearch_spark.session import tiny_df

    id_type = {
        f.name: f.dataType.simpleString() for f in nodes.schema.fields
    }[id_col]
    return tiny_df(
        nodes.sparkSession,
        [(v, label[v]) for v in ids],
        f"id {id_type}, cluster_id {id_type}",
    )


def keep_per_cluster(clusters: DataFrame) -> DataFrame:
    """Dedup decision from ``dedup_clusters`` output: keep the canonical
    doc of each cluster, drop the rest. Returns (id, cluster_id, keep)."""
    out = clusters.select(
        "id", "cluster_id", (F.col("id") == F.col("cluster_id")).alias("keep")
    )
    if hasattr(clusters, "_persisted_parent"):
        out._persisted_parent = clusters._persisted_parent
    return out


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash over canonical tokens (vectorized pandas UDF).

    Per doc: for each unique token, md5-derived 64-bit fingerprint weighted
    by tf; signature bit b = 1 iff the tf-weighted sum of bit b over tokens
    is positive. Near-dups = small Hamming distance. Not SQL-expressible
    (bit plumbing) -> rows-only correctness check; unit-tested vs a pure-
    Python oracle instead.
    """
    from go_dcp_elasticsearch_spark.functions.hashing import simhash64_py
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

    def kernel(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: simhash64_py(tokenize_py(t)))

    udf = F.pandas_udf(kernel, LongType())
    return df.select(F.col(id_col).alias("id"), udf(F.col(text_col)).alias("simhash"))


def embedding_cosine_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    *,
    method: str,
    n_bands: int = 4,
    band_bits: int = 4,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold.

    ``method`` is REQUIRED (no default): the two strategies trade recall
    against scale — "lsh" can miss pairs that share no band bucket,
    "exact" is an O(n^2) crossJoin — and silently defaulting either way
    burned callers before; the choice must be explicit.

    ``method="lsh"`` (the scale path): candidate pairs share
    at least one LSH band bucket (n_bands bands of band_bits md5-derived
    Rademacher hyperplane sign bits — OR-construction for recall), then an
    exact cosine re-rank filters by threshold. The only shuffle is the
    (band, bucket) hash join; no all-pairs blow-up. Deterministic planes
    (similarity.md5_planes) make the WHOLE operator SQL-mirrorable, so the
    driver oracle checks candidate generation and re-rank bit-for-bit.

    ``method="exact"``: brute-force O(n^2) self-join — the small-data /
    recall-ceiling baseline only; never the 100 TB plan.

    ``max_bucket_size``: drop degenerate buckets (see
    minhash_candidate_pairs). Cosine computed JVM-side with zip_with +
    aggregate in float64.
    """
    from go_dcp_elasticsearch_spark.operators.similarity import cosine_expr, md5_planes

    v = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if method == "exact":
        a, b = v.alias("a"), v.alias("b")
        pairs = a.crossJoin(b).filter(F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
        )
    elif method == "lsh":
        if dim is None:
            dim = len(df.select(vec_col).head()[0])
        planes = md5_planes(n_bands * band_bits, dim, seed)
        vec = F.col("v")
        band_cols = []
        for band in range(n_bands):
            bits = []
            for j in range(band_bits):
                p = F.lit(planes[band * band_bits + j].tolist()).cast("array<double>")
                dot = F.aggregate(
                    F.zip_with(vec, p, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b
                )
                bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
            band_cols.append(F.concat(*bits))
        buckets = v.select(
            "id", F.posexplode(F.array(*band_cols)).alias("band", "bucket")
        )
        if max_bucket_size is not None:
            hot = (
                buckets.groupBy("band", "bucket")
                .agg(F.count("*").alias("_n"))
                .filter(F.col("_n") > max_bucket_size)
                .select("band", "bucket")
            )
            buckets = buckets.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
        a, b = buckets.alias("a"), buckets.alias("b")
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        va = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
        vb = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
        pairs = cand.join(va, "id_a").join(vb, "id_b")
    else:
        raise ValueError(f"method must be 'lsh' or 'exact', got {method!r}")
    return (
        pairs.select(
            "id_a", "id_b",
            round6_expr(cosine_expr(F.col("va"), F.col("vb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
