"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk`` — exact cosine top-k: query set × corpus join with the
  dot product as a native ``F.aggregate(F.zip_with(...))`` expression
  (JVM-side, codegen). The baseline and the exact verifier.
- ``lsh_topk`` — random-hyperplane LSH: deterministic hyperplanes from
  xxhash64, signature buckets block the search; candidates reranked exactly.
  The scale path: corpus hashed once, queries probe only matching buckets.
- ``embedding_cosine_pairs`` — EXACT corpus near-dup pairs above a cosine
  threshold: distributed blocked matrix product (hash-blocked block pairs,
  one BLAS matmul per block pair inside a vectorized Arrow kernel).
- ``embedding_cosine_pairs_lsh`` — the approximate 100 TB path: hyperplane
  LSH buckets block the candidate pairs (ids only through the self-join),
  exact cosine rerank after re-joining vectors by id.

At 100 TB the corpus side is bucketed/partitioned by signature so a query
touches one partition per probe; here the same plan shapes run at sandbox
scale.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    # Cast to double BEFORE multiplying — float32 products drift ~1e-7,
    # enough to flip round(cos, 6) against a double-precision oracle.
    ad, bd = a.cast("array<double>"), b.cast("array<double>")
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    ad = a.cast("array<double>")
    return F.sqrt(
        F.aggregate(
            F.transform(ad, lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (excluding self-matches on
    equal ids). Output: (query_id, vec_id, cos, rank)."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"))
    scored = q.crossJoin(c).filter(F.col(query_id_col) != F.col(id_col)).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", F.col("rank").cast("long"))
    )


def hyperplane_signature(
    vec: Column, dim: int, n_planes: int = 16, seed: int = 42
) -> Column:
    """Random-hyperplane LSH signature (long): bit i = sign(v · h_i), with
    h_i components derived from xxhash64(seed, i, j) — deterministic,
    computable on any worker without shipping plane matrices."""
    bits = []
    for i in range(n_planes):
        comp = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.xxhash64(F.lit(seed), F.lit(i), j) % 2001) - 1000
            ).cast("double")
            / 1000.0,
        )
        proj = F.aggregate(
            F.zip_with(vec, comp, lambda x, h: (x * h).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append((proj > 0).cast("long") * F.lit(1 << i))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def hyperplane_signatures_vectorized(
    dim: int, n_planes: int, n_tables: int, seed: int = 42
):
    """Vectorized multi-table hyperplane LSH: returns a pandas_udf mapping an
    embedding column to ``array<long>`` of ``n_tables`` signatures, computed
    as ONE BLAS matmul per Arrow batch (vs n_tables*n_planes interpreted
    aggregate passes per row for the Column-expression variant). Plane matrix
    comes from a seeded numpy RandomState — deterministic on every worker at
    any cluster size, no broadcast needed."""
    from pyspark.sql.functions import pandas_udf

    planes = np.random.RandomState(seed).standard_normal(
        (dim, n_planes * n_tables)
    )
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        bits = (mat @ planes) > 0
        per_table = [
            bits[:, t * n_planes : (t + 1) * n_planes] @ weights
            for t in range(n_tables)
        ]
        return pd.Series(list(np.stack(per_table, axis=1)))

    return sigs


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: n_tables independent hyperplane signatures; a
    corpus vector is a candidate if it collides with the query in any table;
    candidates reranked by exact cosine. Output like brute_force_topk."""
    sig_udf = hyperplane_signatures_vectorized(dim, n_planes, n_tables, seed=42)

    def with_sigs(df: DataFrame, idc: str, vc: str) -> DataFrame:
        sigged = df.select(
            F.col(idc),
            F.col(vc).cast("array<double>").alias(f"__{idc}_v"),
            F.posexplode(sig_udf(F.col(vc).cast("array<double>"))).alias(
                "table", "sig"
            ),
        )
        return sigged.select(idc, f"__{idc}_v", "table", "sig")

    # Small parquet inputs arrive as one split; the signature matmul is the
    # dominant cost, so spread it before computing.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    qs = with_sigs(queries, query_id_col, vec_col)
    cs = with_sigs(corpus.repartition(par), id_col, vec_col)
    cands = (
        qs.join(cs, ["table", "sig"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cands.select(
        query_id_col,
        id_col,
        F.round(
            cosine(F.col(f"__{query_id_col}_v"), F.col(f"__{id_col}_v")), 6
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", F.col("rank").cast("long"))
    )


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 64,
    sample: int = 20_000,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Coarse quantizer for IVF: spherical k-means on a DETERMINISTIC sample
    (hash-ordered, so every run and cluster size picks the same rows).
    Returns L2-normalized centroids (n_centroids, dim). The sample bounds
    driver memory — at 100 TB the sample is the only driver-side data, and
    assignment/probing run fully distributed against the broadcast-by-closure
    centroid matrix (a few KB)."""
    rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 64,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k by cosine: a coarse spherical
    k-means quantizer buckets the corpus into ``n_centroids`` cells; each
    query probes its ``nprobe`` nearest cells and candidates are reranked
    exactly. The second scale path next to hyperplane LSH: at 100 TB the
    corpus is PARTITIONED BY cell (Iceberg partition = cell id), so a query
    reads nprobe/n_centroids of the data — the same pruned-state shape as
    the durable, key-bucketed Arrangement. Output like brute_force_topk."""
    from pyspark.sql.functions import pandas_udf

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, dim, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
    cent = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def cell_of(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mat @ cent.T, axis=1).astype(np.int32))

    @pandas_udf("array<int>")
    def probe_cells(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(mat @ cent.T), axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    par = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.repartition(par).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        cell_of(F.col(vec_col).cast("array<double>")).alias("__cell"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qv"),
        F.explode(
            probe_cells(F.col(vec_col).cast("array<double>"))
        ).alias("__cell"),
    )
    cands = q.join(c, ["__cell"]).filter(F.col(query_id_col) != F.col(id_col))
    scored = cands.select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos"),
    ).dropDuplicates([query_id_col, id_col])
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", F.col("rank").cast("long"))
    )


def embedding_cosine_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """EXACT near-duplicate pairs by cosine >= threshold, computed as a
    distributed blocked matrix product. Output: (id_a, id_b, cos), id_a < id_b.

    Plan shape: vectors hash into ``n_blocks`` blocks; every unordered block
    pair (i, j) becomes one task holding block i as side A and block j as
    side B; a vectorized Arrow kernel computes the |A|x|B| cosine matrix with
    one BLAS matmul and emits only the above-threshold entries. Work is the
    unavoidable O(n^2/2) of an exact answer, but it distributes over
    n_blocks*(n_blocks+1)/2 independent tasks and runs at numpy-matmul speed
    instead of per-pair Catalyst expression evaluation; shuffle volume is
    n*n_blocks vector copies (size n_blocks ~ n/block_size at scale).

    For 100 TB corpora exact all-pairs is off the table regardless of plan —
    use :func:`embedding_cosine_pairs_lsh` (hyperplane-bucket blocking +
    exact rerank), the approximate scale path.
    """
    nb = n_blocks
    blocked = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).cast("int").alias("__blk"),
    )
    # Side A covers block pairs (h, j>=h); side B covers (i<h, h). The
    # diagonal task (h, h) gets only side-A rows and self-joins in the kernel.
    side0 = F.transform(
        F.sequence(F.col("__blk"), F.lit(nb - 1)),
        lambda j: F.struct(
            F.col("__blk").alias("bi"), j.alias("bj"), F.lit(0).alias("side")
        ),
    )
    side1 = F.when(
        F.col("__blk") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("__blk") - 1),
            lambda i: F.struct(
                i.alias("bi"), F.col("__blk").alias("bj"), F.lit(1).alias("side")
            ),
        ),
    ).otherwise(F.array())
    tasks = blocked.select(
        "id", "v", F.explode(F.concat(side0, side1)).alias("t")
    ).select("id", "v", "t.bi", "t.bj", "t.side")

    thr = float(threshold)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        diagonal = len(b) == 0
        if diagonal:
            b = a
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        va = np.stack(a["v"].to_numpy())
        vb = np.stack(b["v"].to_numpy())
        va = va / np.linalg.norm(va, axis=1, keepdims=True)
        vb = vb / np.linalg.norm(vb, axis=1, keepdims=True)
        sims = np.round(va @ vb.T, 6)
        ia, ib = np.nonzero(sims >= thr)
        ids_a = a["id"].to_numpy()[ia]
        ids_b = b["id"].to_numpy()[ib]
        keep = ids_a != ids_b
        lo = np.minimum(ids_a[keep], ids_b[keep])
        hi = np.maximum(ids_a[keep], ids_b[keep])
        cos = sims[ia, ib][keep]
        out = pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos})
        if diagonal:
            # self block: every pair appears twice (S is symmetric)
            out = out.drop_duplicates(["id_a", "id_b"])
        return out

    return tasks.groupBy("bi", "bj").applyInPandas(
        kernel, schema="id_a long, id_b long, cos double"
    )


def embedding_cosine_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 16,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 2048,
) -> DataFrame:
    """APPROXIMATE near-dup pairs: hyperplane-LSH bucket blocking + exact
    cosine rerank — the 100 TB path (recall < 1, tested vs the exact kernel).
    ``bucket_cap`` bounds per-(table, signature) bucket cardinality — the
    skew control of functions.dedup._cap_buckets: a degenerate bucket
    (near-zero vectors collapsing to one signature) of d members would emit
    O(d²) candidate rows; buckets above the cap are dropped from BLOCKING
    only, verification stays exact.

    The banded self-join carries ONLY (table, signature, id) — vectors are
    re-joined by id for the exact verification, so no embedding payload rides
    through the n_tables-way self-join shuffle. Output: (id_a, id_b, cos).

    Recall is high in the near-duplicate regime (threshold >= ~0.9, small
    angles); at wide-angle thresholds (<~0.7) hyperplane LSH cannot separate
    candidates from noise — use the exact :func:`embedding_cosine_pairs`
    blocked matmul there.
    """
    par = corpus.sparkSession.sparkContext.defaultParallelism
    ids_vecs = corpus.repartition(par).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    sig_udf = hyperplane_signatures_vectorized(dim, n_planes, n_tables, seed=1042)
    sigs = ids_vecs.select(
        "id", F.posexplode(sig_udf(F.col("v"))).alias("table", "sig")
    )
    from differential_dataflow_spark.functions.dedup import _cap_buckets

    sigs = _cap_buckets(sigs, ["table", "sig"], bucket_cap)
    a = sigs.alias("a")
    b = sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = ids_vecs.select(F.col("id").alias("id_a"), F.col("v").alias("__va"))
    vb = ids_vecs.select(F.col("id").alias("id_b"), F.col("v").alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
