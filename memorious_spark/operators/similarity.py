"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline (one pass, JVM-side
``zip_with``/``aggregate`` arithmetic — no UDF); the LSH-bucketed
variant is the scale path: deterministic hyperplane signs bucket
vectors so queries only scan their bucket (candidate set ~n/2^bits),
re-ranked exactly within the bucket.

No RNG at runtime: hyperplane h[i][j] = ±1 from the parity of
md5(i:j) — reproducible across engines and runs.
"""

from __future__ import annotations

import hashlib
from collections import Counter

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "cosine_sim", "knn_brute_force", "lsh_bucket_col", "knn_lsh",
    "query_probe_buckets", "ivf_seed_centroids", "ivf_assign_col",
    "ivf_assign_udf", "knn_ivf",
    "pq_seed_codebooks", "pq_encode_col", "pq_encode_udf", "pq_encode",
    "knn_pq", "knn_ivfpq",
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def knn_brute_force(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector. One scan, one
    small top-k sort (orderBy+limit compiles to TakeOrdered — no full
    sort shuffle)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        emb.select(
            F.col("vec_id"),
            F.round(cosine_sim(F.col("embedding"), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def _plane_sign(plane: int, dim: int) -> float:
    """Deterministic ±1 from md5 parity — the 'random' hyperplanes."""
    digest = hashlib.md5(f"{plane}:{dim}".encode()).digest()
    return 1.0 if digest[0] % 2 == 0 else -1.0


def lsh_bucket_col(
    vec_col: Column, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Sign-LSH bucket id: bit i = sign(v · h_{offset+i}) for
    deterministic hyperplanes h ∈ {±1}^dim. Pure Column arithmetic,
    no UDF. ``plane_offset`` selects an independent plane family per
    band (banded pair-LSH in dedup.embedding_dup_pairs_lsh)."""
    bucket = F.lit(0)
    for p in range(n_planes):
        signs = F.array(
            *[F.lit(_plane_sign(plane_offset + p, d)) for d in range(dim)]
        )
        bit = (_dot(vec_col, signs) > 0).cast("int")
        bucket = bucket + F.shiftleft(bit, p)
    return bucket


def query_probe_buckets(
    query_vec: list[float], n_planes: int = 6, multiprobe: bool = True
) -> list[int]:
    """The query's LSH bucket plus (``multiprobe``) every hamming-1
    neighbor bucket — a near neighbor whose projection flips exactly
    one plane sign lands one bit away, so single-probe has a recall
    cliff precisely at the decision boundaries; probing the
    ``n_planes + 1`` adjacent buckets removes it at a candidate
    volume of ~(planes+1)·n/2^planes."""
    dim = len(query_vec)
    qsig = 0
    for p in range(n_planes):
        dot = sum(
            float(query_vec[d]) * _plane_sign(p, d) for d in range(dim)
        )
        if dot > 0:
            qsig |= 1 << p
    if not multiprobe:
        return [qsig]
    return [qsig] + [qsig ^ (1 << p) for p in range(n_planes)]


def knn_lsh(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 6,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket and (default)
    its hamming-1 neighbors, exact cosine re-rank inside the candidate
    set. At scale the bucket column is precomputed + partitioned-by,
    so a multiprobe query touches ~(planes+1)/2^planes of the rows
    (partition-pruned scans on a bucketed table); here it's derived on
    the fly. ``multiprobe=False`` restores the single-bucket probe."""
    dim = len(query_vec)
    probes = query_probe_buckets(query_vec, n_planes, multiprobe)
    bucketed = emb.withColumn(
        "_bucket", lsh_bucket_col(F.col("embedding"), dim, n_planes)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        bucketed.filter(F.col("_bucket").isin(probes))
        .select(
            F.col("vec_id"),
            F.round(cosine_sim(F.col("embedding"), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


# ---- IVF (inverted-file) ANN -----------------------------------------
# The coarse-quantizer scale path: K centroids partition the vector
# space; every vector is assigned to its nearest centroid's posting
# list, a query probes only the ``nprobe`` nearest lists and re-ranks
# exactly inside them. On a cluster the bucket column is a partition /
# Z-order key, so a query is ``nprobe`` partition-pruned scans
# (~nprobe/K of the table) — the IVF of FAISS/Milvus re-expressed as
# plain DataFrame ops. Seeding is deterministic (vec_id-strided rows,
# no RNG) so the engine and the DuckDB oracle derive identical
# centroids.


def _dist2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_seed_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    spacing: int = 37,
) -> list[tuple[int, list[float]]]:
    """Deterministic seed centroids: the vectors at
    ``vec_id = i · spacing`` for ``i < n_centroids`` (strided over the
    id space — no RNG, reproducible across engines). Returns
    [(cid, vector)] sorted by cid; K is tiny, so driver-side rows."""
    ids = [i * spacing for i in range(n_centroids)]
    rows = (
        emb.filter(F.col("vec_id").isin(ids))
        .select(
            (F.col("vec_id") / spacing).cast("int").alias("cid"), "embedding"
        )
        .collect()
    )
    cents = sorted((r["cid"], [float(x) for x in r["embedding"]]) for r in rows)
    if len(cents) != n_centroids:
        # Fail LOUD: downstream assignment paths index centroids by
        # position == cid; a missing strided seed row would compress
        # the list and silently probe the wrong posting lists.
        have = {c for c, _ in cents}
        raise ValueError(
            f"ivf_seed_centroids: expected {n_centroids} seed vectors at "
            f"vec_id = i*{spacing}, found {len(cents)} (missing cids: "
            f"{sorted(set(range(n_centroids)) - have)}). Reduce "
            f"n_centroids/spacing or densify the id space."
        )
    return cents


def ivf_assign_col(
    vec_col: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid id as a pure Column: argmin over K literal
    squared-L2 distances (ties → lowest cid via first-occurrence
    ``array_position``). K is small, so the expression stays inside
    whole-stage codegen — no UDF, no shuffle."""
    dists = F.array(
        *[
            _dist2(vec_col, F.array(*[F.lit(float(x)) for x in c]))
            for _cid, c in centroids
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


# Above this K the literal-expression assignment path (K inlined
# `aggregate` expressions in ONE Column) exceeds whole-stage-codegen
# limits and degrades to interpreted eval; centroids become DATA.
_IVF_LITERAL_MAX_K = 16


def ivf_assign_udf(centroids: list[tuple[int, list[float]]]):
    """Nearest-centroid assignment as an Arrow-vectorized pandas UDF:
    the K·dim centroid matrix ships once per task in the closure, each
    Arrow batch is one numpy matmul + argmin. ZERO shuffle, K unbounded
    (the production path for K ≈ 10³ cells over a 100 TB corpus — the
    literal-Column path blows codegen past ~16 centroids). Ties break
    to the lowest cid via numpy argmin's first-occurrence rule, same
    contract as ``ivf_assign_col``'s array_position."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cmat = np.array([c for _cid, c in centroids], dtype=np.float64)
    cnorm2 = (cmat * cmat).sum(axis=1)

    @pandas_udf("int")
    def _assign(vecs):
        x = np.array(vecs.tolist(), dtype=np.float64)
        if x.size == 0:
            import pandas as pd

            return pd.Series([], dtype="int32")
        # ||x - c||^2 = ||x||^2 - 2 x·c + ||c||^2; the ||x||^2 term is
        # constant per row, so argmin needs only -2 x·c + ||c||^2
        d = cnorm2[None, :] - 2.0 * (x @ cmat.T)
        import pandas as pd

        return pd.Series(d.argmin(axis=1).astype("int32"))

    return _assign


def _assign_bucket_col(centroids: list[tuple[int, list[float]]]) -> Column:
    """Nearest centroid of ``embedding``. Picks the assignment strategy
    by K: literal Column while it still codegens (fastest at tiny K —
    benched), Arrow-vectorized numpy argmin beyond (shuffle-free,
    unbounded K)."""
    if len(centroids) <= _IVF_LITERAL_MAX_K:
        return ivf_assign_col(F.col("embedding"), centroids)
    return ivf_assign_udf(centroids)(F.col("embedding"))


def knn_ivf(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    spacing: int = 37,
) -> DataFrame:
    """IVF top-k: assign vectors to their nearest deterministic seed
    centroid (the oracle-paired configuration), probe the ``nprobe``
    centroids nearest the query, exact cosine re-rank inside those
    posting lists."""
    cents = ivf_seed_centroids(emb, n_centroids, spacing)
    qdist = sorted(
        (
            sum((float(q) - float(c)) ** 2 for q, c in zip(query_vec, cv)),
            cid,
        )
        for cid, cv in cents
    )
    probes = [cid for _d, cid in qdist[:nprobe]]
    assigned = emb.withColumn("_b", _assign_bucket_col(cents))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        assigned.filter(F.col("_b").isin(probes))
        .select(
            F.col("vec_id"),
            F.round(cosine_sim(F.col("embedding"), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


# ---- product quantization (IVF-ADC family; Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search", IEEE TPAMI) ----

# Above this m·n_codes the encode routes to the Arrow-batched numpy
# matmul. The bound is deliberately LOW (not a codegen ceiling): the
# literal path is m·n_codes nested `aggregate` HOFs, and Catalyst
# evaluates lambda HOFs INTERPRETED per row — measured 6s for a mere
# 2000×64-dim rows at m·n_codes=64 vs milliseconds through Arrow.
# The Column path stays only where its zero-Python property matters
# and the expression count is trivial (tests, tiny fixtures).
_PQ_LITERAL_MAX = 16


def pq_seed_codebooks(
    emb: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    spacing: int = 31,
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic PQ codebooks: the vector dimension splits into
    ``m`` contiguous subspaces, and subspace ``j``'s code ``i`` is the
    j-th slice of the vector at ``vec_id = i · spacing`` (the same
    strided-seed convention as :func:`ivf_seed_centroids`, so the
    DuckDB oracle rebuilds the codebooks closed-form).
    Returns ``codebooks[j] = [(code, subvector)]`` sorted by code;
    fails LOUD on missing seed rows — positions index codes."""
    seeds = ivf_seed_centroids(emb, n_codes, spacing)
    dim = len(seeds[0][1])
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [(code, vec[j * sub:(j + 1) * sub]) for code, vec in seeds]
        for j in range(m)
    ]


def pq_encode_col(vec_col: Column, codebooks) -> Column:
    """``array<int>`` of per-subspace nearest-code ids, pure Column
    (m·n_codes literal sub-distance aggregates; ties → lowest code via
    first-occurrence ``array_position``)."""
    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    codes = []
    for j, book in enumerate(codebooks):
        sl = F.slice(vec_col, j * sub + 1, sub)
        dists = F.array(
            *[
                _dist2(sl, F.array(*[F.lit(float(x)) for x in cv]))
                for _code, cv in book
            ]
        )
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return F.array(*codes)


def pq_encode_udf(codebooks):
    """Arrow-batched numpy encoder for big ``m·n_codes`` (the scale
    path): one (n, m) argmin per batch, no per-row Python."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books = [
        np.asarray([cv for _c, cv in book], dtype=np.float64)
        for book in codebooks
    ]
    sub = books[0].shape[1]

    @pandas_udf("array<int>")
    def _enc(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        cols = []
        for j, bk in enumerate(books):
            sl = mat[:, j * sub:(j + 1) * sub]
            d = ((sl[:, None, :] - bk[None, :, :]) ** 2).sum(axis=2)
            cols.append(d.argmin(axis=1))
        codes = np.stack(cols, axis=1).astype("int32")
        return pd.Series(list(codes))

    return _enc


def pq_encode(emb: DataFrame, codebooks) -> DataFrame:
    """``(vec_id, pq_code array<int>)`` — auto-routes literal Column
    vs numpy by ``m · n_codes`` (``_PQ_LITERAL_MAX``). At 100 TB the
    encoded table is the ARTIFACT: m bytes-ish per vector instead of
    4·dim, scanned for every query while the raw vectors stay cold."""
    n = len(codebooks) * len(codebooks[0])
    enc = (
        pq_encode_col(F.col("embedding"), codebooks)
        if n <= _PQ_LITERAL_MAX
        else pq_encode_udf(codebooks)(F.col("embedding"))
    )
    return emb.select(F.col("vec_id"), enc.alias("pq_code"))


def knn_pq(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    spacing: int = 31,
    refine: int = 4,
) -> DataFrame:
    """PQ-ADC top-k: encode the corpus (m small codes per vector),
    score every vector by the asymmetric-distance LUT (query-to-code
    sub-distances, computed ONCE driver-side — the scan never touches
    raw vectors), take the ``k·refine`` best approximate candidates,
    then exact-cosine re-rank only those. The approximate distance is
    rounded to 6 dp before ranking so the candidate cut is
    engine-reproducible bit-for-bit (ties → vec_id)."""
    codebooks = pq_seed_codebooks(emb, m, n_codes, spacing)
    sub = len(codebooks[0][0][1])
    lut = [
        [
            sum(
                (float(query_vec[j * sub + t]) - float(cv[t])) ** 2
                for t in range(sub)
            )
            for _code, cv in book
        ]
        for j, book in enumerate(codebooks)
    ]
    encoded = pq_encode(emb, codebooks)
    approx = F.round(
        sum(
            F.element_at(
                F.array(*[F.lit(d) for d in lut[j]]),
                F.element_at(F.col("pq_code"), j + 1) + 1,
            )
            for j in range(m)
        ),
        6,
    )
    cand = (
        encoded.select(F.col("vec_id"), approx.alias("_ad"))
        .orderBy("_ad", "vec_id")
        .limit(k * refine)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        emb.join(cand.select("vec_id"), "vec_id")
        .select(
            F.col("vec_id"),
            F.round(cosine_sim(F.col("embedding"), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def knn_ivfpq(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    spacing: int = 37,
    m: int = 4,
    n_codes: int = 16,
    pq_spacing: int = 31,
    refine: int = 4,
) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFPQ shape, non-residual): the
    coarse quantizer prunes to the ``nprobe`` cells nearest the query,
    the ADC LUT scores only THOSE cells' codes, and the k·refine best
    get the exact re-rank. Per query the scan cost drops from PQ's
    O(n) codes to ~nprobe/K of them (cells from the coarse centroids of
    :func:`knn_ivf`, codes via :func:`pq_encode`).

    Deviation from FAISS, documented: codes come from the GLOBAL
    codebooks (:func:`pq_seed_codebooks`), not per-cell residual
    codebooks — residual encoding would need K codebook sets and
    breaks the closed-form oracle; the recall gap is the classic
    IVFFlat-PQ vs IVFPQ-residual tradeoff."""
    # ONE seed collect for both codebooks: the coarse centroids
    # (i · spacing) and the PQ seed vectors (i · pq_spacing) come back
    # from a single pushed-down isin scan instead of two separate
    # driver jobs (ivf_seed_centroids + pq_seed_codebooks each ran
    # their own filter+collect over the same parquet).
    ivf_ids = [i * spacing for i in range(n_centroids)]
    pq_ids = [i * pq_spacing for i in range(n_codes)]
    rows = (
        emb.filter(F.col("vec_id").isin(sorted(set(ivf_ids + pq_ids))))
        .select("vec_id", "embedding")
        .collect()
    )
    # a dict over duplicate ids would keep whichever row the collect
    # returned last — nondeterministic codebooks
    counts = Counter(int(r["vec_id"]) for r in rows)
    dups = sorted(i for i, n in counts.items() if n > 1)
    if dups:
        raise ValueError(
            f"knn_ivfpq: duplicate seed rows at ids {dups}; vec_id "
            "must be unique"
        )
    by_id = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows
    }

    def _seeds(ids: list[int], label: str) -> list[tuple[int, list[float]]]:
        missing = [i for i in ids if i not in by_id]
        if missing:
            # same loud-fail contract as ivf_seed_centroids: positions
            # index codes, a compressed list probes the wrong lists
            raise ValueError(
                f"knn_ivfpq: missing {label} seed vectors at ids "
                f"{missing}. Reduce n_centroids/n_codes/spacing or "
                f"densify the id space."
            )
        return [(j, by_id[i]) for j, i in enumerate(ids)]

    cents = _seeds(ivf_ids, "coarse")
    qdist = sorted(
        (
            sum((float(q) - float(c)) ** 2 for q, c in zip(query_vec, cv)),
            cid,
        )
        for cid, cv in cents
    )
    probes = [cid for _d, cid in qdist[:nprobe]]
    pq_seeds = _seeds(pq_ids, "pq")
    dim = len(pq_seeds[0][1])
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [
        [(code, vec[j * sub:(j + 1) * sub]) for code, vec in pq_seeds]
        for j in range(m)
    ]
    sub = len(books[0][0][1])
    lut = [
        [
            sum(
                (float(query_vec[j * sub + t]) - float(cv[t])) ** 2
                for t in range(sub)
            )
            for _code, cv in book
        ]
        for j, book in enumerate(books)
    ]
    cell_rows = emb.withColumn(
        "_cell", _assign_bucket_col(cents)
    ).filter(F.col("_cell").isin(probes))
    encoded = pq_encode(cell_rows, books)
    approx = F.round(
        sum(
            F.element_at(
                F.array(*[F.lit(d) for d in lut[j]]),
                F.element_at(F.col("pq_code"), j + 1) + 1,
            )
            for j in range(m)
        ),
        6,
    )
    cand = (
        encoded.select(F.col("vec_id"), approx.alias("_ad"))
        .orderBy("_ad", "vec_id")
        .limit(k * refine)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        emb.join(cand.select("vec_id"), "vec_id")
        .select(
            F.col("vec_id"),
            F.round(cosine_sim(F.col("embedding"), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )
