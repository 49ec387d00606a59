"""Approximate-nearest-neighbor search over an embedding column.

Two paths (SURVEY-mandated pipeline ops, not in the reference):

* :func:`topk_cosine` — brute-force exact cosine top-k: one narrow scan,
  native arithmetic (``zip_with``/``aggregate``), a single
  ``TakeOrderedAndProject`` — the correctness baseline and perfectly
  adequate when the query set is small.
* :func:`topk_cosine_lsh` — the scale path: random-hyperplane bucket
  signature (same family as dedup.embedding_cosine_pairs); probe the
  query's bucket plus all hamming≤1 neighbor buckets, exact-rank only the
  candidates.  Scan prunes to matching buckets (a pre-computed/bucketed
  table turns this into partition pruning on a real deployment).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves string type hints
from pyspark.sql import Column, DataFrame, functions as F

from go_jsonschema_spark.functions.literals import lit_doubles, lit_matrix
from go_jsonschema_spark.operators.dedup import _dot, _norm

__all__ = [
    "topk_cosine",
    "topk_cosine_many",
    "topk_cosine_many_ivf_indexed",
    "topk_cosine_lsh",
    "topk_cosine_lsh_multi",
    "hyperplane_bucket",
    "kmeans_centroids",
    "assign_centroid",
    "topk_cosine_ivf",
    "ivf_write_index",
    "topk_cosine_ivf_indexed",
    "label_centroid_similarity",
    "hard_negatives",
]


def _dot_lit(vec: Column, q: list[float]) -> Column:
    # ONE array literal node (see lit_doubles), not a CreateArray of
    # len(q) scalar literals: the value is identical, but an unrolled
    # 64-element array costs ~65 plan nodes + a py4j round trip per
    # element, and analyzer time is super-linear in plan size — with 16
    # centroids the argmin expression alone cost ~1.1 s of pure driver
    # time per query at sf0.1 (measured r7; guide §7.3 "planning very
    # large expression trees").
    return _dot(vec, lit_doubles([float(x) for x in q]))


def cosine_to(vec: Column, q: list[float]) -> Column:
    import math

    qn = math.sqrt(sum(x * x for x in q)) or 1.0
    return _dot_lit(vec, q) / (_norm(vec) * F.lit(qn))


def topk_cosine(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: ``(vec_id, cosine)`` ordered desc, ties by id.

    orderBy+limit compiles to TakeOrderedAndProject — per-partition heaps of
    size k then a driver merge, no full sort, no shuffle of the table."""
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_to(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _query_matrix(queries: DataFrame, q_id_col: str, q_vec_col: str,
                  max_queries: int):
    """Collect the bounded query set driver-side and return
    ``(query_ids, normalized_query_matrix.T)`` for closure broadcast —
    the cosine_pairs_exact shape: 10k × 64 floats ≈ 2.5 MB."""
    import numpy as np

    rows = queries.select(q_id_col, q_vec_col).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"topk_cosine_many broadcasts the query matrix to every task; "
            f"> {max_queries} queries is a self-join, not a query batch — "
            "use cosine_pairs_exact / embedding_cosine_pairs instead")
    if not rows:
        raise ValueError("topk_cosine_many: empty query set")
    bad = [r[q_id_col] for r in rows
           if r[q_vec_col] is None or any(x is None for x in r[q_vec_col])]
    if bad:
        raise ValueError(
            f"topk_cosine_many: null query vector or element for "
            f"{q_id_col} in {bad[:5]!r}")
    qids = np.asarray([r[q_id_col] for r in rows])
    Q = np.asarray([list(map(float, r[q_vec_col])) for r in rows])
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    return qids, Q, (Q / qn[:, None]).T  # ids, raw (m, dim), normᵀ (dim, m)


def topk_cosine_many(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str | None = None,
    q_id_col: str | None = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in ONE scan of the
    table (VERDICT r4 item 5 — a curation pipeline scores thousands of
    queries; one :func:`topk_cosine` job per query rescans the table m
    times).

    Execution: the normalized query matrix is closure-broadcast and every
    Arrow batch does ONE BLAS matmul ``(batch, dim) @ (dim, m)`` inside
    ``mapInPandas``, keeping a per-batch per-query top-k with the exact
    final tie-break ``(cosine desc, id asc)`` — any global top-k row is
    necessarily in its batch's top-k under the same order, so the final
    ``row_number`` re-rank shuffles only ``k·m·n_partitions`` candidate
    rows, never the table.  Returns ``(query_id, id_col, cosine, rank)``
    with rank 1..k per query; cosines rounded to 6 like
    :func:`topk_cosine`."""
    import numpy as np
    from pyspark.sql import Window

    qids, _, QnT = _query_matrix(queries, q_id_col or id_col,
                                 q_vec_col or vec_col, max_queries)
    m = len(qids)
    kk = k

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            # Arrow hands array<float> rows as numpy arrays — stacking is
            # a C-speed copy (a per-element float() loop here would
            # dominate the whole scan at 10^7+ rows); nulls raise rather
            # than corrupt
            M = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            mn = np.linalg.norm(M, axis=1)
            mn[mn == 0] = 1.0
            C = np.round((M / mn[:, None]) @ QnT, 6)  # (n, m)
            top = min(kk, len(ids))
            qcol, icol, ccol = [], [], []
            for j in range(m):
                order = np.lexsort((ids, -C[:, j]))[:top]
                qcol.append(np.full(top, qids[j]))
                icol.append(ids[order])
                ccol.append(C[order, j])
            yield pd.DataFrame({
                "query_id": np.concatenate(qcol),
                id_col: np.concatenate(icol),
                "cosine": np.concatenate(ccol),
            })

    part = df.select(id_col, vec_col).mapInPandas(
        partials, f"query_id long, {id_col} long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def topk_cosine_many_ivf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    centroids,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str | None = None,
    q_id_col: str | None = None,
    n_probe: int = 4,
    n_assign: int = 1,
    max_queries: int = 10_000,
) -> DataFrame:
    """Batch-query ANN over a materialized IVF index
    (:func:`ivf_write_index`): scan the UNION of every query's ``n_probe``
    cells ONCE (partition pruning — unprobed cells are never read), score
    each candidate row only against the queries whose probe set contains
    its cell (a per-batch boolean mask over the same single matmul), and
    re-rank the per-batch partials exactly as :func:`topk_cosine_many`.
    With ``n_assign > 1`` a vector can surface from several probed cells
    for the same query — identical candidate rows the final step dedups
    before ranking.  Output shape matches :func:`topk_cosine_many`.

    Design boundary (measured at 10M rows, BENCH/ann_scale.json): the
    pruning win exists only while the UNION of the batch's probed cells
    stays well under ``n_centroids`` — random queries cover
    ``~C·(1-(1-n_probe/C)^m)`` cells, so a large diverse batch
    degenerates to a full scan plus mask overhead and
    :func:`topk_cosine_many` wins outright.  Prefer this variant for
    small or clustered query batches (shared probe cells), or raise
    ``n_centroids`` so the union stays sparse."""
    import numpy as np
    from pyspark.sql import Window

    qids, Qraw, QnT = _query_matrix(queries, q_id_col or id_col,
                                    q_vec_col or vec_col, max_queries)
    m = len(qids)
    cent = np.asarray(centroids, dtype=float)
    # probe selection matches the single-query path: squared distance of
    # the RAW query vector to each centroid
    d2 = ((Qraw[:, None, :] - cent[None, :, :]) ** 2).sum(-1)  # (m, C)
    probe = d2.argsort(1)[:, :n_probe]                         # (m, n_probe)
    allow = np.zeros((len(cent), m), dtype=bool)
    for j in range(m):
        allow[probe[j], j] = True
    union = sorted({int(c) for j in range(m) for c in probe[j]})

    kk = k

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            cells = pdf["cell"].to_numpy().astype(int)
            M = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            mn = np.linalg.norm(M, axis=1)
            mn[mn == 0] = 1.0
            C = np.round((M / mn[:, None]) @ QnT, 6)  # (n, m)
            C = np.where(allow[cells], C, -2.0)  # mask unprobed pairs
            top = min(kk, len(ids))
            qcol, icol, ccol = [], [], []
            for j in range(m):
                order = np.lexsort((ids, -C[:, j]))[:top]
                keep = C[order, j] > -1.5
                qcol.append(np.full(int(keep.sum()), qids[j]))
                icol.append(ids[order][keep])
                ccol.append(C[order, j][keep])
            yield pd.DataFrame({
                "query_id": np.concatenate(qcol),
                id_col: np.concatenate(icol),
                "cosine": np.concatenate(ccol),
            })

    scan = spark.read.parquet(path).filter(
        F.col("cell").isin([int(c) for c in union]))
    part = scan.select(id_col, vec_col, "cell").mapInPandas(
        partials, f"query_id long, {id_col} long, cosine double")
    if n_assign > 1:
        part = part.dropDuplicates(["query_id", id_col])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def hyperplane_bucket(
    vec: Column, *, n_planes: int = 10, dim: int = 64, seed: int = 42
) -> Column:
    """Random-hyperplane sign-bit bucket id (long) for a vector column."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        bit = F.when(
            _dot_lit(vec, [float(x) for x in planes[i]]) > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def kmeans_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
):
    """Driver-side mini-KMeans on a deterministic sample → the IVF coarse
    quantizer (numpy; the sample is tiny relative to the table — at 10^12
    rows you train on 10^5-10^6 sampled vectors, never the full set)."""
    import numpy as np

    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    X = np.asarray([list(map(float, r[vec_col])) for r in rows])
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        lab = d.argmin(1)
        for c in range(len(cent)):
            pts = X[lab == c]
            if len(pts):
                cent[c] = pts.mean(0)
    return cent


def _centroid_scores(vec: Column, centroids) -> Column:
    """``array<double>`` of per-centroid scores ``-2·v·c + ||c||²``
    built from TWO literal nodes (the centroid matrix as one nested
    array literal + the ``||c||²`` vector) and one ``zip_with`` — the
    per-element arithmetic (x*y products, left-fold sum from 0.0, then
    -2·dot + cc) is token-for-token the old unrolled form, so every
    score is bit-identical; only the PLAN shrinks, from
    O(n_centroids·dim) literal nodes (~1.1 s of driver-side analysis
    per query at 16×64, measured r7 — guide §7.3) to O(1)."""
    import numpy as np

    mat = lit_matrix([[float(x) for x in c] for c in centroids])
    ccs = lit_doubles([float(np.dot(c, c)) for c in centroids])
    return F.zip_with(
        mat, ccs,
        lambda c, cc: F.lit(-2.0) * F.aggregate(
            F.zip_with(vec, c, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x) + cc,
    )


def assign_centroid(vec: Column, centroids) -> Column:
    """Nearest-centroid id (0-based) as a native expression: argmin over
    per-centroid squared distances ``||v||² - 2·v·c + ||c||²`` (the
    ``||v||²`` term is common — dropped)."""
    arr = _centroid_scores(vec, centroids)
    return F.array_position(arr, F.array_min(arr)) - 1


def assign_centroids_multi(vec: Column, centroids, n_assign: int) -> Column:
    """Ids of the ``n_assign`` nearest centroids as a native array:
    sort ``(score, idx)`` structs, take the first ``n_assign`` idx.
    Multiple assignment ("spilled posting lists") is the standard IVF
    recall lever when neighbors straddle cell boundaries — each vector is
    indexed under its 2-3 nearest cells at 2-3× posting storage."""
    idx = F.lit(list(range(len(centroids)))).cast("array<int>")
    scored = F.zip_with(
        _centroid_scores(vec, centroids), idx,
        lambda s, i: F.struct(s.alias("s"), i.alias("i")))
    return F.slice(
        F.transform(F.array_sort(scored), lambda x: x["i"]), 1, n_assign)


def topk_cosine_ivf(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    n_assign: int = 1,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """IVF ANN: coarse-quantize every vector to its ``n_assign`` nearest
    centroids (narrow native pass), probe the ``n_probe`` centroids
    closest to the query, exact-rank only vectors assigned to a probed
    cell.  On a real deployment the assignment is precomputed and the
    table partitioned/bucketed by cell → probing becomes partition
    pruning; here the assignment runs inline so the plan shape is
    identical.  ``n_assign > 1`` trades posting-list storage for recall
    (measured on the synthetic embeddings: 1→2 assignment lifts
    recall@10 from 0.5-0.9 to 0.9-1.0 at n_probe=6)."""
    import numpy as np

    if centroids is None:
        centroids = kmeans_centroids(
            df, vec_col=vec_col, id_col=id_col,
            n_centroids=n_centroids, seed=seed,
        )
    q = np.asarray(query, dtype=float)
    d2 = ((centroids - q[None, :]) ** 2).sum(1)
    probe = [int(i) for i in d2.argsort()[:n_probe]]

    if n_assign <= 1:
        cell = assign_centroid(F.col(vec_col), centroids)
        hit = cell.isin(probe)
    else:
        cells = assign_centroids_multi(F.col(vec_col), centroids, n_assign)
        hit = F.arrays_overlap(
            cells, F.array(*[F.lit(p) for p in probe]))
    return (
        df.select(F.col(id_col), F.col(vec_col), hit.alias("hit"))
        .filter(F.col("hit"))
        .select(
            F.col(id_col),
            F.round(cosine_to(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_write_index(
    df: DataFrame,
    path: str,
    centroids,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_assign: int = 1,
) -> None:
    """Materialize the IVF index: the table written partitioned by its
    coarse-quantizer cell.  This is the deployment shape the inline
    :func:`topk_cosine_ivf` docstring promises — after this one narrow
    pass, every query's ``n_probe`` cell filter is PARTITION PRUNING at
    the scan (``PartitionFilters`` in the plan; unprobed cells are never
    read from storage), which is what makes IVF pay at 10^12 rows.

    ``n_assign > 1`` writes each vector into its ``n_assign`` nearest
    cell partitions ("spilled posting lists": n_assign× storage for the
    same recall lift the inline path gets) — the reader dedups by id."""
    if n_assign <= 1:
        cells = F.array(assign_centroid(F.col(vec_col), centroids))
    else:
        cells = assign_centroids_multi(F.col(vec_col), centroids, n_assign)
    (
        df.select(F.col(id_col), F.col(vec_col),
                  F.explode(cells).alias("cell"))
        # cluster by cell before the partitioned write: without this,
        # every input partition writes a sliver into every cell —
        # input_partitions × n_centroids small files — and the per-file
        # open tax erases the pruning win at query time (measured at 1M
        # rows: 2048 files → pruned query no faster than brute force).
        # One shuffle at BUILD time, amortized over every query after.
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def topk_cosine_ivf_indexed(
    spark,
    path: str,
    query: list[float],
    centroids,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 4,
    n_assign: int = 1,
) -> DataFrame:
    """Query a materialized IVF index (:func:`ivf_write_index`): pick the
    ``n_probe`` nearest centroids driver-side, scan ONLY those cell
    partitions, exact-rank the survivors.  Identical results to the
    inline :func:`topk_cosine_ivf` for the same centroids/probe/assign
    settings.  Pass the index's ``n_assign`` so the reader knows whether
    an id-dedup (one small shuffle over the PROBED cells only) is
    needed; the single-assign path stays shuffle-free."""
    import numpy as np

    q = np.asarray(query, dtype=float)
    d2 = ((np.asarray(centroids) - q[None, :]) ** 2).sum(1)
    probe = [int(i) for i in d2.argsort()[:n_probe]]
    scan = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    if n_assign > 1:
        # a multi-assigned index can hold a vector in several probed
        # cells — dedup by id before ranking
        scan = scan.dropDuplicates([id_col])
    return (
        scan.select(
            F.col(id_col),
            F.round(cosine_to(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def topk_cosine_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 10,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: restrict the exact ranking to vectors whose hyperplane
    bucket is within hamming distance 1 of the query's bucket
    (multi-probe LSH), then brute-force only those."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, len(query)))
    qbits = 0
    for i in range(n_planes):
        if float(np.dot(planes[i], np.asarray(query))) > 0:
            qbits |= 1 << i
    probe = [qbits] + [qbits ^ (1 << i) for i in range(n_planes)]

    bucket = hyperplane_bucket(
        F.col(vec_col), n_planes=n_planes, dim=len(query), seed=seed
    )
    return (
        df.select(
            F.col(id_col), F.col(vec_col), bucket.alias("bkt")
        )
        .filter(F.col("bkt").isin(probe))
        .select(
            F.col(id_col),
            F.round(cosine_to(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def topk_cosine_lsh_multi(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 24,
    probe_radius: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Multi-TABLE hyperplane LSH top-k: ``n_tables`` independent
    signatures of ``n_planes`` bits each; a vector is a candidate when
    ANY table's signature lands within hamming ``probe_radius`` of the
    query's — the textbook L-table OR-construction, which (unlike a
    single wider signature) drives the per-neighbor miss probability to
    ``(1 - p_table)^L`` and is the config that actually clears a recall
    floor on weakly-similar data.

    All ``n_tables × n_planes`` plane dot products are one BLAS matmul
    per Arrow batch inside a vectorized pandas UDF (``(batch, dim) @
    (dim, L·b)``) — the per-element native-expression form explodes the
    codegen expression tree at 256 planes, while the matmul costs
    microseconds per thousand rows.  The exact ranking of survivors stays
    native (``TakeOrderedAndProject``).  At 10^12 rows the signatures
    would be precomputed once and stored (cf. :func:`ivf_write_index`),
    making the probe a metadata-only filter.

    Defaults (b=8, L=24, r=1) are tuned on the synthetic embeddings
    table, whose "near" neighbors sit at cosine ≈ 0.3-0.4 — barely 2σ
    above isotropic noise, the hardest regime for LSH: measured
    recall@10 = 1.0/0.9/1.0 at sf0.001/0.01/0.1 (r6 sweep: L=32 was
    recall 1.0 everywhere at 1.3× the cost; L=16 sat exactly on the
    0.8 oracle floor at sf0.01 — no margin; L=16/b=10 collapsed to
    0.5 — this data cannot afford narrower per-table hit rates).  On production near-dup embeddings (neighbor cosine ≥
    0.8, per-plane agreement p ≈ 0.8) the same harness prunes hard with
    b=12, L=16: per-table hit ≈ 0.26 → recall ≈ 0.99 while a random
    row survives with probability ≈ 1-(1-13/4096)^16 ≈ 5%."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    qa = np.asarray(query, dtype=np.float64)
    rng = np.random.default_rng(seed)
    planes = [rng.standard_normal((n_planes, len(query)))
              for _ in range(n_tables)]
    P = np.concatenate(planes, axis=0)           # (L*b, dim)
    qbits = (P @ qa) > 0                          # (L*b,)
    # the sign test tolerates reduced precision: a float32 dot product
    # only flips a bit when the float64 product is within ~1e-4 of the
    # hyperplane, and a vector that close to a plane is (un)hashed
    # equivalently either way — so the batch matmul runs in float32
    # (2× the FLOP rate, half the memory traffic of the f64 form)
    P32t = np.ascontiguousarray(P.T, dtype=np.float32)  # (dim, L*b)
    r = probe_radius

    @pandas_udf("boolean")
    def is_candidate(vecs: pd.Series) -> pd.Series:
        # np.vstack on the ndarray-of-arrays avoids the per-row list()
        # round trip (measured ~2× on 300k-row batches)
        M = np.vstack(vecs.to_numpy()).astype(np.float32, copy=False)
        bits = (M @ P32t) > 0                     # (n, L*b)
        ham = (bits != qbits[None, :]).reshape(
            len(M), n_tables, n_planes).sum(axis=2)
        return pd.Series((ham <= r).any(axis=1))

    return (
        df.filter(is_candidate(F.col(vec_col)))
        .select(
            F.col(id_col),
            F.round(cosine_to(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def label_centroid_similarity(
    df: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    — the cluster-geometry sanity check ("are my sources/classes
    actually separated in embedding space, and which two collapse into
    each other?") that needs no pairwise row work at all.

    Shape: ``posexplode`` → one (label, dim)-keyed mean aggregation
    (map-side combined — the only row-scaled step), centroids
    reassembled as ordered arrays, then an all-pairs join over the
    LABELS table (bounded by #labels², tiny by construction) with the
    cosine as a native ``zip_with``/``aggregate`` fold.

    Output: ``(label_a, label_b, cos_sim)`` for ``label_a < label_b``,
    rounded to 6.  NULL vectors/labels are excluded.
    """
    src = df.where(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull())
    dims = (
        src.select(F.col(label_col).alias("l"),
                   F.posexplode(F.col(vec_col)).alias("p", "v"))
        .groupBy("l", "p").agg(F.avg("v").alias("m"))
    )
    cent = (
        dims.groupBy("l")
        .agg(F.array_sort(F.collect_list(F.struct("p", "m"))).alias("pm"))
        .select(
            "l",
            F.transform(F.col("pm"), lambda s: s["m"]).alias("c"),
        )
    )
    a = cent.select(F.col("l").alias("label_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("l").alias("label_b"), F.col("c").alias("cb"))
    pairs = a.join(b, F.col("label_a") < F.col("label_b"))

    cos = _dot(F.col("ca"), F.col("cb")) / (
        F.sqrt(_dot(F.col("ca"), F.col("ca")))
        * F.sqrt(_dot(F.col("cb"), F.col("cb"))))
    return pairs.select(
        "label_a", "label_b", F.round(cos, 6).alias("cos_sim"))


def hard_negatives(
    df: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    max_anchors: int = 10_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` MOST similar corpus vectors with a DIFFERENT label — the
    near-misses that teach a metric model the boundary (easy random
    negatives are already far away and carry no gradient).

    Same one-scan shape as :func:`topk_cosine_many` (closure-broadcast
    normalized anchor matrix, one BLAS matmul per Arrow batch), with the
    label constraint applied INSIDE the scan: for anchor j, batch rows
    whose label equals the anchor's (or whose id is the anchor itself,
    relevant when anchors come from the corpus) are masked to -inf
    BEFORE the per-batch top-k — so the guarantee is exact top-k among
    different-label rows, not "top-k minus however many same-label rows
    happened to rank first".  Final re-rank shuffles only
    ``k·m·n_partitions`` candidate rows.  NULL-label corpus rows are
    negatives for every anchor (unknown ≠ anchor's class — they stay
    maskable only by id).

    Output: ``(anchor_id, id_col, cosine, rank)``, rank 1..k per
    anchor, cosine rounded to 6, ties broken on id.
    """
    import numpy as np
    from pyspark.sql import Window

    qids, _, QnT = _query_matrix(anchors, id_col, vec_col, max_anchors)
    lab_rows = anchors.select(id_col, label_col).collect()
    lab_by_id = {r[id_col]: r[label_col] for r in lab_rows}
    qlabels = np.asarray(
        [lab_by_id.get(q) for q in qids.tolist()], dtype=object)
    m = len(qids)
    kk = k

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            labs = pdf[label_col].to_numpy(dtype=object)
            M = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            mn = np.linalg.norm(M, axis=1)
            mn[mn == 0] = 1.0
            C = np.round((M / mn[:, None]) @ QnT, 6)  # (n, m)
            top = min(kk, len(ids))
            qcol, icol, ccol = [], [], []
            for j in range(m):
                col = C[:, j].copy()
                ql = qlabels[j]
                if ql is not None:
                    col[labs == ql] = -np.inf
                col[ids == qids[j]] = -np.inf
                order = np.lexsort((ids, -col))[:top]
                keep = col[order] > -np.inf
                order = order[keep]
                qcol.append(np.full(len(order), qids[j]))
                icol.append(ids[order])
                ccol.append(col[order])
            if qcol:
                yield pd.DataFrame({
                    "anchor_id": np.concatenate(qcol),
                    id_col: np.concatenate(icol),
                    "cosine": np.concatenate(ccol),
                })

    part = df.select(id_col, vec_col, label_col).mapInPandas(
        partials, f"anchor_id long, {id_col} long, cosine double")
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col(id_col))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
