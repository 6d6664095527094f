"""Similarity search over embedding columns (array<float>).

Two paths, same contract:

  brute_force_topk : exact cosine top-k. Query side broadcast against the
                     corpus — each corpus partition scores its rows
                     against all queries locally, then a per-query top-k
                     merge. Linear in corpus size; the baseline.
  lsh_topk         : random-hyperplane (sign) LSH — corpus and queries
                     hashed to sign-bit buckets; only same-bucket pairs
                     scored. Approximate; recall grows with probes.
                     Bucket join shuffles (bucket, id, vector) — at 100 TB
                     corpus this is the path (bounded candidate sets per
                     query, no full scan per query).

LSH sign bits and IVF list assignment run in BLAS: one matrix multiply
per Arrow batch (``_sign_bits``, ``_nearest_centroids``). Scoring stays in
Catalyst (``_cosine_sim`` over ``dot``/``l2norm``: `zip_with` +
`aggregate`, codegen'd); no Python in the scoring loop. Vectors are cast
to double once so scores are engine-reproducible (float accumulation
order would not be).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from mds_provider_spark import schema as S
from mds_provider_spark.operators.dedup import _cap_buckets
from mds_provider_spark.session import local_frame


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _cosine_sim(a: str, b: str, a_norm: str, b_norm: str, digits: int) -> Column:
    """The one cosine scorer: vectors ``a``, ``b`` with their precomputed
    L2 norms, rounded to ``digits`` as ``cosine_sim``. NULL when either
    side is the zero vector (it has no direction), never a divide-by-zero
    failure; a NULL ranks last in a top-k and never clears a threshold."""
    return F.round(
        F.try_divide(dot(F.col(a), F.col(b)), F.col(a_norm) * F.col(b_norm)), digits
    ).alias("cosine_sim")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k: (query_id, neighbor_id, cosine_sim), self excluded.

    Rank on the ROUNDED similarity with neighbor-id tiebreak so results
    are stable across engines and summation orders.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    ).withColumn("_cn", l2norm(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", l2norm(F.col("_qv")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_sim("_qv", "_cv", "_qn", "_cn", round_digits),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _vector_width(df: DataFrame, vec_col: str) -> int:
    """The most common length of the non-NULL vectors, ties to the
    smaller (one small aggregate; callers that know the width pass
    ``dim``). Neither a NULL row nor a wrong-length vector that happens
    to come first may decide it: every right-length vector would get
    NULL signs and the operator would find nothing."""
    row = (
        df.where(F.col(vec_col).isNotNull())
        .groupBy(F.size(vec_col).alias("width"))
        .count()
        .orderBy(F.desc("count"), F.asc("width"))
        .first()
    )
    return int(row["width"]) if row is not None else 0


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _sign_bits(vec: Column, planes_2d: list[list[float]]) -> Column:
    """array<long> of 0/1 signs for all planes: ONE matrix multiply per
    Arrow batch instead of L*b higher-order dot products per row (a
    Catalyst fold allocates a zip_with array per plane per row and was
    slower in an interleaved A/B already at 32 planes). A NULL
    or wrong-length vector gets NULL signs, so its bucket is NULL: it
    never equi-joins and is never a candidate or a result (the
    ``_nearest_centroids`` / ``pq_encode`` contract). Sign boundaries
    (dot exactly 0.0) depend on the BLAS summation order, but bucket
    assignment only has to be CONSISTENT — both sides of every LSH join
    are hashed here — and the exact-cosine verify decides membership.
    Registered ``asNondeterministic`` for the reason ``pq_encode`` gives:
    otherwise the join's inferred not-NULL filter on the bucket is
    pushed below this projection and every vector is hashed twice."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes_2d, dtype=np.float64).T  # (dim, L*b)
    dim = P.shape[0]

    @pandas_udf("array<long>")
    def signs(v: pd.Series) -> pd.Series:
        out: list = [None] * len(v)
        valid = [i for i, x in enumerate(v) if x is not None and len(x) == dim]
        if valid:
            m = np.stack([np.asarray(v.iloc[i], dtype=np.float64) for i in valid])
            s = (m @ P >= 0).astype(np.int64)
            for j, i in enumerate(valid):
                out[i] = s[j]
        return pd.Series(out, dtype=object)

    return signs.asNondeterministic()(vec)


def _bucketed_packed(
    df: DataFrame, vec_col: str, dim: int, n_planes: int, n_tables: int, seed: int
) -> DataFrame:
    """df plus ONE ``_tb`` array<struct<table,bucket>> column — the
    PRE-explode form of ``_bucketed``. Splitting this out lets callers
    that reference the bucketed table several times persist the packed
    row (one (table, bucket) array per input row, ~12 bytes per table)
    instead of the exploded one (which would duplicate the vector
    payload n_tables times in the cache).

    The sign bits of all n_tables*n_planes hyperplanes are computed in
    ONE array expression and MATERIALIZED as a column; the per-table
    packing over it is deliberately LAMBDA-FREE (plain array indexing +
    shifts) — higher-order functions are excluded from subexpression
    elimination, so a lambda-based pack lets CollapseProject inline the
    full sign computation into every reference (measured 10x on the
    simhash twin of this code path, operators/dedup.py)."""
    planes: list[list[float]] = []
    for t in range(n_tables):
        planes.extend(_hyperplanes(dim, n_planes, seed + 7919 * t))
    step = df.withColumn("_signs", _sign_bits(F.col(vec_col), planes))

    def bucket_expr(t: int) -> Column:
        e = F.lit(0).cast("long")
        for j in range(n_planes):
            e = e + F.col("_signs")[t * n_planes + j] * F.lit(
                1 << (n_planes - 1 - j)
            ).cast("long")
        return e

    tb = F.array(
        *[
            F.struct(
                F.lit(t).cast("int").alias("table"), bucket_expr(t).alias("bucket")
            )
            for t in range(n_tables)
        ]
    )
    return step.select(*df.columns, tb.alias("_tb"))


def _explode_buckets(packed: DataFrame) -> DataFrame:
    """One row per (table, bucket) from the ``_bucketed_packed`` form."""
    cols = [c for c in packed.columns if c != "_tb"]
    return packed.select(*cols, F.explode("_tb").alias("_tbx")).select(
        *cols, F.col("_tbx.table").alias("table"), F.col("_tbx.bucket").alias("bucket")
    )


def _bucketed(
    df: DataFrame, vec_col: str, dim: int, n_planes: int, n_tables: int, seed: int
) -> DataFrame:
    """Explode into one row per (table, bucket) — the multi-table recall
    lever: a true neighbor missed by one table's split collides in
    another with prob 1-(1-p^b)^L, tunable without coarsening buckets."""
    return _explode_buckets(
        _bucketed_packed(df, vec_col, dim, n_planes, n_tables, seed)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 16,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 2024,
    round_digits: int = 6,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing a bucket in >=1 table.

    16 planes split the corpus into 65536 buckets per table — at 10^9
    vectors ~15k rows/bucket; 4 independent tables recover the recall
    the finer split costs. ``max_bucket_size`` drops degenerate hot
    buckets (e.g. the all-zeros region) before the join — a hot bucket
    is quadratic in candidates, and its members still meet in the other
    tables (dedup._cap_buckets rationale).
    """
    if dim is None:
        dim = _vector_width(corpus, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    ).withColumn("_cn", l2norm(F.col("_cv")))
    # Two references follow (the _cap_buckets size aggregation and the
    # probe join) — persist the PACKED form so the corpus scan + sign
    # computation runs once without duplicating the vector payload
    # n_tables times in the cache (embedding_near_duplicates rationale).
    from pyspark import StorageLevel

    c_packed = _bucketed_packed(
        c, "_cv", dim, n_planes, n_tables, seed
    ).persist(StorageLevel.MEMORY_AND_DISK)
    c = _explode_buckets(c_packed)
    c = _cap_buckets(c, ["table", "bucket"], max_bucket_size)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", l2norm(F.col("_qv")))
    q = _bucketed(q, "_qv", dim, n_planes, n_tables, seed)
    scored = (
        q.join(c, ["table", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_sim("_qv", "_cv", "_qn", "_cn", round_digits),
        )
        .distinct()  # a pair can collide in several tables
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _kmeans_centroids(sample: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic Lloyd's k-means on a driver-side sample (the IVF
    coarse quantizer is always trained on a sample in practice)."""
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=min(k, len(sample)), replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(len(cent)):
            m = sample[assign == j]
            if len(m):
                cent[j] = m.mean(0)
    return cent


def _nearest_centroids(vec: Column, cents: np.ndarray, nprobe: int) -> Column:
    """array<int> of the nprobe nearest centroid ids (squared L2): one
    (batch x dim)@(dim x k) matmul + stable argsort per Arrow batch, so
    the plan size is constant in n_lists (one expression per centroid
    lost an interleaved A/B even at 8-16 lists, and its plan grows
    linearly toward the 4096 lists a 10^9-vector corpus wants). The
    STABLE argsort on distance keeps column (= cid) order among ties,
    so the ordering is (distance, cid), ties at the nprobe cut included
    (argpartition would pick an arbitrary tied subset there; the sort's
    O(k log k) is noise next to the O(k*dim) matmul). Null or
    wrong-dimension vectors yield a null assignment and drop out of the
    list join instead of failing the task. float64 throughout; corpus
    and queries go through this one kernel, so assignment is consistent
    per call. ``asNondeterministic`` as in ``_sign_bits``: the list
    join's not-NULL filter would otherwise run the kernel twice."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cents, dtype=np.float64)
    c2 = (C * C).sum(1)
    k, dim = C.shape

    @pandas_udf("array<int>")
    def probe(v: pd.Series) -> pd.Series:
        out: list = [None] * len(v)
        valid = [i for i, x in enumerate(v) if x is not None and len(x) == dim]
        if valid:
            m = np.stack([np.asarray(v.iloc[i], dtype=np.float64) for i in valid])
            d = (m * m).sum(1)[:, None] - 2.0 * (m @ C.T) + c2[None, :]
            ids = np.argsort(d, axis=1, kind="stable")[:, : min(nprobe, k)].astype(
                np.int32
            )
            for j, i in enumerate(valid):
                out[i] = ids[j]
        return pd.Series(out, dtype=object)

    return probe.asNondeterministic()(vec)


_TRAIN_SAMPLE_MOD = 64


def _train_sample(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    train_sample: int,
    store: dict | None = None,
):
    """(filtered_rows, fallback_fn) for the deterministic training
    sample both the coarse quantizer and the PQ codebooks draw: a
    hash-membership prefilter (pushable, scan-proportional, partition-
    independent), the tiny survivor set ordered for exact
    reproducibility; ``fallback_fn`` lazily collects the direct ordered
    take small corpora need. Both collects are DETERMINISTIC queries,
    so callers that train quantizer + codebooks on the same corpus can
    pass one shared ``store`` dict and pay each driver job once instead
    of per-training (ivfpq_topk/build_pq_index ran four sample collects
    where two suffice) — the rows each trainer sees are bit-identical
    to independent collection."""
    store = store if store is not None else {}
    if "filtered" not in store:
        store["filtered"] = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .where(
                F.pmod(
                    F.xxhash64(F.col(id_col).cast("string")),
                    F.lit(_TRAIN_SAMPLE_MOD),
                )
                == 0
            )
            .orderBy(id_col)
            .limit(train_sample)
            .select(vec_col)
            .collect()
        )

    def fallback():
        if "fallback" not in store:
            store["fallback"] = (
                corpus.select(F.col(id_col), F.col(vec_col))
                .orderBy(id_col)
                .limit(train_sample)
                .select(vec_col)
                .collect()
            )
        return store["fallback"]

    return store["filtered"], fallback


def train_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    train_sample: int = 2048,
    kmeans_iters: int = 8,
    seed: int = 7,
    sample_store: dict | None = None,
) -> np.ndarray:
    """Train the IVF coarse quantizer once; reuse via ``ivf_topk(...,
    centroids=...)`` or persist with ``save_ivf_index``.

    Deterministic training sample WITHOUT a full-corpus TakeOrdered
    (see ``_train_sample``); small corpora that can't fill the sample
    fall back to the direct ordered take — same centroids either way at
    test scale, cheap path at 10^12 rows.
    """
    filtered, fallback = _train_sample(
        corpus, id_col, vec_col, train_sample, sample_store
    )
    if len(filtered) < min(train_sample, n_lists * 4):
        filtered = fallback()
    sample = np.asarray([list(r[0]) for r in filtered], dtype=np.float64)
    return _kmeans_centroids(sample, n_lists, kmeans_iters, seed)


def save_ivf_index(spark, centroids: np.ndarray, path: str) -> None:
    """Persist a trained quantizer as engine-portable parquet
    (list_id int, centroid array<double>) — byte-faithful float64, so a
    load on any cluster reproduces IDENTICAL list assignments (the
    index is plan literals; a last-ulp drift would silently reshuffle
    every list boundary)."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(np.asarray(centroids))]
    local_frame(
        spark, rows, "list_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_index(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(path).orderBy("list_id").collect()
    if not rows:
        raise ValueError(f"empty IVF index at {path!r}")
    return np.asarray([list(r["centroid"]) for r in rows], dtype=np.float64)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 3,
    train_sample: int = 2048,
    kmeans_iters: int = 8,
    seed: int = 7,
    round_digits: int = 6,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Train a coarse quantizer (k-means on a driver sample — deterministic
    seed), assign each corpus vector to its nearest list (one BLAS
    matmul per Arrow batch, ``_nearest_centroids``; no shuffle), probe the
    ``nprobe`` nearest lists per query, score only same-list pairs.
    Candidate set per query ≈ nprobe/n_lists of the corpus — at 10^9
    vectors with 4096 lists and nprobe=8 that's a 512x scan reduction
    with the recall knob explicit (nprobe).

    ``centroids``: a pre-trained index (``train_ivf_index`` /
    ``load_ivf_index``) — pass it to skip training entirely, the
    production path where one training run serves every subsequent
    query batch (training reads the corpus; probing must not).
    """
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
    else:
        cents = train_ivf_index(
            corpus, id_col, vec_col, n_lists, train_sample, kmeans_iters, seed
        )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    )
    c = c.withColumn("_list", _nearest_centroids(F.col("_cv"), cents, 1)[0])
    c = c.withColumn("_cn", l2norm(F.col("_cv")))

    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv"))
    q = q.withColumn(
        "_list", F.explode(_nearest_centroids(F.col("_qv"), cents, nprobe))
    ).withColumn("_qn", l2norm(F.col("_qv")))

    scored = (
        q.join(c, "_list")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_sim("_qv", "_cv", "_qn", "_cn", round_digits),
        )
        .distinct()  # a neighbor can appear via several probed lists
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# ------------------------------------------------ IVF + PQ (ADC rerank)


def train_pq_codebooks(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 256,
    train_sample: int = 2048,
    kmeans_iters: int = 8,
    seed: int = 11,
    sample_store: dict | None = None,
) -> np.ndarray:
    """Train product-quantization codebooks (Jégou, Douze, Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    public) over coarse-quantizer RESIDUALS: the vector dimension is
    split into ``m`` subspaces and each gets its own ``ksub``-entry
    k-means codebook, trained on the same deterministic hash-membership
    driver sample discipline as the coarse quantizer (an index is always
    trained on a sample; the ENCODE pass is the distributed part).

    Returns codebooks of shape (m, ksub_eff, dim/m), float64. ``m`` must
    divide the vector dimension; ksub_eff <= ksub when the sample is
    small (codes stay dense either way).
    """
    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    rows, fallback = _train_sample(
        corpus, id_col, vec_col, train_sample, sample_store
    )
    if len(rows) < min(train_sample, ksub):
        rows = fallback()
    X = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    # residuals against each sample's nearest coarse centroid
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    R = X - C[d.argmin(1)]
    dsub = dim // m
    k_eff = min(ksub, len(R))
    return np.stack(
        [
            _kmeans_centroids(
                R[:, j * dsub : (j + 1) * dsub].copy(), k_eff, kmeans_iters,
                seed + j,
            )
            for j in range(m)
        ]
    )


def save_pq_index(spark, codebooks: np.ndarray, path: str) -> None:
    """Persist PQ codebooks as engine-portable parquet (sub int,
    code int, centroid array<double>) — byte-faithful float64, same
    discipline as save_ivf_index (a last-ulp drift would silently
    re-encode every vector differently)."""
    B = np.asarray(codebooks)
    rows = [
        (j, c, [float(x) for x in B[j, c]])
        for j in range(B.shape[0])
        for c in range(B.shape[1])
    ]
    local_frame(
        spark, rows, "sub int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pq_index(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(path).orderBy("sub", "code").collect()
    if not rows:
        raise ValueError(f"empty PQ index at {path!r}")
    m = max(r["sub"] for r in rows) + 1
    ksub = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    B = np.zeros((m, ksub, dsub), dtype=np.float64)
    for r in rows:
        B[r["sub"], r["code"]] = list(r["centroid"])
    return B


def pq_encode(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PQ encode: (id, list, codes array<int>) — ``m`` small
    ints per vector instead of dim floats (the 10^9-10^12-vector memory
    story: at m=8 over 64 float32 dims that is a 32x smaller scan
    footprint for the shortlist stage; raw vectors are only read back
    for the candidate-proportional exact re-rank).

    One Arrow-batched pandas UDF (BLAS per subspace), no shuffle — the
    encode rides the corpus scan. Null / wrong-dim vectors get a null
    code row and drop out of the list join (the embedding_quality rules
    own that finding).

    The UDF is registered ``asNondeterministic`` deliberately: the
    null-drop filter references the UDF's own output, and Catalyst
    pushes such a filter BELOW the projection, duplicating the
    ArrowEvalPython node — i.e. every vector would be PQ-encoded twice
    (measured on the physical plan). Nondeterministic marking is the
    documented single-evaluation barrier; the function is in fact a
    pure function of its input, so no semantics change."""
    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = B.shape
    dim = C.shape[1]
    c2 = (C * C).sum(1)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<list:int, codes:array<int>>")
    def enc(v: pd.Series) -> pd.DataFrame:
        lists: list = [None] * len(v)
        codes: list = [None] * len(v)
        valid = [i for i, x in enumerate(v) if x is not None and len(x) == dim]
        if valid:
            X = np.stack(
                [np.asarray(v.iloc[i], dtype=np.float64) for i in valid]
            )
            d = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
            assign = d.argmin(1)
            R = X - C[assign]
            cs = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Rj = R[:, j * dsub : (j + 1) * dsub]
                Bj = B[j]
                dj = (
                    (Rj * Rj).sum(1)[:, None]
                    - 2.0 * (Rj @ Bj.T)
                    + (Bj * Bj).sum(1)[None, :]
                )
                cs[:, j] = dj.argmin(1)
            for row, i in enumerate(valid):
                lists[i] = int(assign[row])
                codes[i] = cs[row]
        return pd.DataFrame({"list": lists, "codes": codes})

    enc = enc.asNondeterministic()
    return corpus.select(
        F.col(id_col),
        enc(as_double(vec_col)).alias("_e"),
    ).select(
        F.col(id_col),
        F.col("_e.list").alias("list"),
        F.col("_e.codes").alias("codes"),
    ).where(F.col("list").isNotNull())


def _adc_lut(centroids: np.ndarray, codebooks: np.ndarray):
    """pandas UDF: (query vec, probed list) -> flattened ADC lookup
    table (m*ksub doubles): LUT[j*ksub + c] = ||(q - C_list)_sub_j -
    B[j][c]||^2. One table per (query, probed list) row; the per-pair
    scoring is then a pure-Catalyst fold over the candidate's codes."""
    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = B.shape
    b2 = (B * B).sum(2)  # (m, ksub)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def lut(v: pd.Series, lst: pd.Series) -> pd.Series:
        out: list = [None] * len(v)
        for i in range(len(v)):
            x = v.iloc[i]
            li = lst.iloc[i]
            if x is None or li is None:
                continue
            r = np.asarray(x, dtype=np.float64) - C[int(li)]
            t = np.empty((m, ksub), dtype=np.float64)
            for j in range(m):
                rj = r[j * dsub : (j + 1) * dsub]
                t[j] = (rj @ rj) - 2.0 * (B[j] @ rj) + b2[j]
            out[i] = t.ravel()
        return pd.Series(out, dtype=object)

    return lut


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 3,
    m: int = 8,
    ksub: int = 256,
    shortlist: int = 64,
    train_sample: int = 2048,
    kmeans_iters: int = 8,
    seed: int = 7,
    round_digits: int = 6,
    centroids: "np.ndarray | None" = None,
    codebooks: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF + product quantization with asymmetric-distance shortlisting
    and exact re-rank — the memory-bounded ANN shape for 10^9-10^12
    vectors (Jégou et al. 2011):

    1. coarse-assign corpus vectors to lists, PQ-encode residuals to
       ``m`` byte-scale codes (``pq_encode`` — the only full-corpus
       artifact the search touches; 32-64x smaller than raw vectors),
    2. per query, probe ``nprobe`` lists; ONE ADC lookup table per
       (query, list) (Arrow UDF), then score every candidate code with
       a pure-Catalyst fold (element_at into the LUT — no Python in
       the pair loop, which is the hot path),
    3. keep the ``shortlist`` best ADC candidates per query (window over
       candidate-proportional rows), re-rank EXACTLY (cosine over raw
       vectors, candidate-proportional join) and return top-k.

    With nprobe=n_lists and shortlist >= corpus the result equals exact
    brute force — the oracle configuration (ADC only orders a shortlist
    that then contains everything); the scale configuration's recall is
    pinned by pytest. Skewed list sizes ride AQE skew-join on ``list``.
    """
    sample_store: dict = {}  # one sample collect serves both trainings
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
    else:
        cents = train_ivf_index(
            corpus, id_col, vec_col, n_lists, train_sample, kmeans_iters, seed,
            sample_store=sample_store,
        )
    if codebooks is not None:
        books = np.asarray(codebooks, dtype=np.float64)
    else:
        books = train_pq_codebooks(
            corpus, cents, id_col, vec_col, m, ksub, train_sample,
            kmeans_iters, seed + 1000, sample_store=sample_store,
        )
    codes = pq_encode(corpus, cents, books, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "list", "codes"
    )
    return _adc_search(
        codes, queries, corpus, cents, books, id_col, vec_col,
        k, nprobe, shortlist, round_digits,
    )


def _adc_search(
    codes: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
    shortlist: int,
    round_digits: int,
) -> DataFrame:
    """Shared ADC shortlist + exact-re-rank pipeline over a codes table
    (neighbor_id, list, codes) — used by ``ivfpq_topk`` (codes built
    inline) and ``pq_search`` (codes read partition-pruned from a
    persisted index)."""
    m_eff, ksub_eff, _ = books.shape
    lut_udf = _adc_lut(cents, books)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
        )
        .withColumn(
            "list",
            F.explode(_nearest_centroids(F.col("_qv"), cents, nprobe)),
        )
        .withColumn("_lut", lut_udf(F.col("_qv"), F.col("list")))
        .drop("_qv")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m_eff - 1)),
            lambda c, j: F.element_at(
                F.col("_lut"), (j * ksub_eff + c + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = (
        q.join(codes, "list")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("_adc"))
    )
    # TWO-STAGE shortlist (the integrity.sample_per_group discipline —
    # round-6 verdict #1): a plain row_number() over query_id lands ALL
    # of one query's ADC candidates on a single window task; candidates
    # per query = nprobe x avg-list-size, which at the 10^12-vector
    # design point is ~10^9 rows through one task. Stage 1 ranks within
    # (physical input partition, query_id) — the shuffle key includes
    # the partition id, so a hot query's candidates spread uniformly —
    # and keeps <= shortlist rows per (partition, query); stage 2 ranks
    # the <= shortlist x P survivors globally. Top-k by (_adc,
    # neighbor_id) distributes over union, so the shortlist SET is
    # exactly the single-window one (identical duplicated rows may swap
    # between stages, which the distinct below erases).
    order = [F.asc("_adc"), F.asc("neighbor_id")]
    w_local = Window.partitionBy(F.col("_pid"), F.col("query_id")).orderBy(*order)
    pruned = (
        cand.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(w_local))
        .where(F.col("_lr") <= shortlist)
        .drop("_pid", "_lr")
    )
    ws = Window.partitionBy("query_id").orderBy(*order)
    short = (
        pruned.withColumn("_r", F.row_number().over(ws))
        .where(F.col("_r") <= shortlist)
        # distinct: DEFENSE-IN-DEPTH against duplicated codes rows (the
        # marker-committed append makes crash duplicates impossible at
        # the index; this guards foreign/hand-built codes tables) —
        # without it the final top-k would report the same neighbor at
        # two ranks. Duplicate entries still consume shortlist slots;
        # the slots, not the output, absorb the duplication.
        # Shortlist-scale exchange only (queries x shortlist rows).
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    ).withColumn("_cn", l2norm(F.col("_cv")))
    qvec = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", l2norm(F.col("_qv")))
    rer = (
        short.join(qvec, "query_id")
        .join(cvec, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine_sim("_qv", "_cv", "_qn", "_cn", round_digits),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def build_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    m: int = 8,
    ksub: int = 256,
    train_sample: int = 2048,
    kmeans_iters: int = 8,
    seed: int = 7,
) -> dict:
    """Train-once / search-many IVF+PQ index on disk — the production
    path where one (training + full-corpus encode) serves every
    subsequent query batch. Layout under ``path``:

    * ``centroids/`` — coarse quantizer (save_ivf_index, byte-faithful)
    * ``codebooks/`` — PQ codebooks (save_pq_index, byte-faithful)
    * ``codes/``     — (neighbor_id, codes) parquet **partitioned by
      list**: the literal inverted file. A search probing nprobe of
      n_lists lists reads ONLY those directories (partition pruning on
      the scan — at 4096 lists and nprobe=8 that is 1/512 of the codes,
      which are themselves 32-64x smaller than the raw vectors).

    Returns ``{"n_vectors": n, "n_lists": ..., "m": ..., "ksub": ...}``.
    """
    spark = corpus.sparkSession
    sample_store: dict = {}  # one sample collect serves both trainings
    cents = train_ivf_index(
        corpus, id_col, vec_col, n_lists, train_sample, kmeans_iters, seed,
        sample_store=sample_store,
    )
    books = train_pq_codebooks(
        corpus, cents, id_col, vec_col, m, ksub, train_sample,
        kmeans_iters, seed + 1000, sample_store=sample_store,
    )
    save_ivf_index(spark, cents, f"{path}/centroids")
    save_pq_index(spark, books, f"{path}/codebooks")
    codes = pq_encode(corpus, cents, books, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "list", "codes"
    )
    codes.write.mode("overwrite").partitionBy("list").parquet(
        f"{path}/codes"
    )
    n = spark.read.parquet(f"{path}/codes").count()
    return {
        "n_vectors": int(n),
        "n_lists": int(np.asarray(cents).shape[0]),
        "m": int(np.asarray(books).shape[0]),
        "ksub": int(np.asarray(books).shape[1]),
    }



def pq_search(
    spark,
    index_path: str,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 3,
    shortlist: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Search a persisted ``build_pq_index`` WITHOUT re-encoding the
    corpus: quantizer + codebooks load driver-side (plan literals), the
    query batch's probed lists are computed first (one tiny collect,
    bounded by n_lists — the distinct probe set of the batch), and the
    codes scan carries ``list IN (probed)`` so partition pruning reads
    only the probed inverted lists. ``corpus`` supplies raw vectors for
    the exact re-rank only — that join is shortlist-proportional, never
    corpus-scale. Same result as ``ivfpq_topk`` with the same index
    artifacts (pytest-pinned)."""
    cents = load_ivf_index(spark, f"{index_path}/centroids")
    books = load_pq_index(spark, f"{index_path}/codebooks")
    # distinct the probed lists IN SPARK before collecting, so the
    # collect is genuinely bounded by n_lists (the docstring's claim) —
    # collecting one row per query made this a query-batch-scale driver
    # collect (round-6 advice). explode drops NULL probe arrays itself.
    probe_lists = sorted(
        int(r["_l"])
        for r in queries.select(
            F.explode(_nearest_centroids(as_double(vec_col), cents, nprobe)).alias("_l")
        )
        .distinct()
        .collect()
    )
    codes = (
        spark.read.parquet(f"{index_path}/codes")
        .where(F.col("list").isin(probe_lists))
        .select("neighbor_id", "list", "codes")
    )
    return _adc_search(
        codes, queries, corpus, cents, books, id_col, vec_col,
        k, nprobe, shortlist, round_digits,
    )


def _finish_pending_append(codes_dir: str, staging: str) -> None:
    """Move every staged codes file into its inverted list — IDEMPOTENT
    (file names are unique Spark part files; a file already moved is
    simply absent from staging), so any entry can resume a move that a
    crash interrupted."""
    import os
    import shutil

    if not os.path.isdir(staging):
        return
    for d in sorted(os.listdir(staging)):
        src_list = os.path.join(staging, d)
        if not d.startswith("list=") or not os.path.isdir(src_list):
            continue
        dst_list = os.path.join(codes_dir, d)
        os.makedirs(dst_list, exist_ok=True)
        for f in os.listdir(src_list):
            if f.endswith(".parquet"):
                os.rename(os.path.join(src_list, f), os.path.join(dst_list, f))
    shutil.rmtree(staging, ignore_errors=True)


def append_pq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch: str | None = None,
) -> dict:
    """Incremental index maintenance — the daily-ingest path: encode a
    NEW vector batch with the FROZEN quantizer + codebooks already on
    disk and append the codes to the inverted lists. No retraining, no
    re-encode of the existing corpus — the append cost is proportional
    to the batch, never the index (at 10^12 vectors a rebuild is a
    full-corpus Arrow encode; an append is one scan of the delta).

    Frozen artifacts mean a searched result over the appended index is
    IDENTICAL to encoding old+new in one pass with the same artifacts
    (pytest-pinned against ``ivfpq_topk``): PQ assignment is a pure
    function of (vector, centroids, codebooks). The trade-off is
    quantization drift — a batch from a shifted distribution encodes
    with larger residual error; ``avg_quantization_err`` in the return
    value is the retrain signal (compare against the build-time value).

    Crash safety (round-6 verdict #2 — marker commit, the upsert/
    CommitLog discipline): the delta is encoded into an underscore-
    prefixed STAGING dir inside ``codes/`` (ignored by every parquet
    reader), a marker file under ``_appends/`` is renamed into place
    atomically, and only then are the staged files MOVED into their
    inverted lists (idempotent per file — unique names). Repair on
    entry: staging without a marker is uncommitted debris from a crash
    mid-encode and is DELETED (the retry re-encodes; nothing reached
    the index, so nothing duplicates); staging with a marker is a
    committed append whose move was interrupted and is FINISHED.
    Passing a stable ``batch`` token makes retries of the same logical
    batch exactly-once: a retry that finds its marker returns the
    recorded stats without re-encoding. Without a token, a retry AFTER
    the marker landed re-appends the batch (the caller asked for the
    same batch twice, indistinguishable from new data) — same contract
    as ``upsert_parquet`` without a CommitLog.
    """
    import json
    import os
    import shutil
    import uuid

    spark = new_vectors.sparkSession
    codes_dir = f"{path}/codes"
    staging = os.path.join(codes_dir, "_append_staging")
    appends_dir = os.path.join(path, "_appends")
    os.makedirs(appends_dir, exist_ok=True)
    pending = sorted(
        f for f in os.listdir(appends_dir) if f.endswith(".pending")
    )
    if os.path.isdir(staging):
        if pending:
            # committed but un-moved: finish the interrupted append
            _finish_pending_append(codes_dir, staging)
            for f in pending:
                os.rename(
                    os.path.join(appends_dir, f),
                    os.path.join(appends_dir, f[: -len(".pending")]),
                )
        else:
            # crash mid-encode: nothing committed, nothing in the index
            shutil.rmtree(staging, ignore_errors=True)
    elif pending:
        # moves finished but the pending->done rename didn't: finish it
        for f in pending:
            os.rename(
                os.path.join(appends_dir, f),
                os.path.join(appends_dir, f[: -len(".pending")]),
            )

    token = batch if batch is not None else uuid.uuid4().hex
    marker = os.path.join(appends_dir, token)
    if batch is not None and os.path.exists(marker):
        with open(marker) as fh:
            stats = json.load(fh)
        total = int(spark.read.parquet(codes_dir).count())
        return {
            "n_appended": int(stats["n_appended"]),
            "n_vectors_total": total,
            "avg_quantization_err": float(stats["avg_quantization_err"]),
            "already_committed": True,
        }

    cents = load_ivf_index(spark, f"{path}/centroids")
    books = load_pq_index(spark, f"{path}/codebooks")
    codes = pq_encode(new_vectors, cents, books, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "list", "codes"
    ).persist()
    try:
        codes.write.mode("overwrite").partitionBy("list").parquet(staging)
        # retrain monitor over the SAME cached codes (one encode total):
        # reconstruct each batch vector and measure the residual L2.
        stats = _quantization_error(
            codes, new_vectors, cents, books, id_col, vec_col
        )
    except BaseException:
        codes.unpersist()
        shutil.rmtree(staging, ignore_errors=True)
        raise
    codes.unpersist()
    # COMMIT: marker lands atomically (rename), THEN files move in.
    # Crash before the rename -> staging is debris, repair deletes it.
    # Crash after -> repair (or this batch's retry) finishes the moves.
    tmp = marker + f".tmp{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(
            {"n_appended": int(stats["n"]),
             "avg_quantization_err": float(stats["err"])}, fh)
    os.replace(tmp, marker + ".pending")
    _finish_pending_append(codes_dir, staging)
    os.rename(marker + ".pending", marker)
    # ground-truth total: parquet count() is METADATA-only (footer row
    # counts — no data pages are read), so the cost is proportional to
    # the index's FILE count, not its bytes. A maintained running total
    # was tried and rejected: any crash between the codes append and the
    # total update leaves it permanently diverged from the table, and
    # ground truth self-heals after every crash/retry instead.
    total = int(spark.read.parquet(codes_dir).count())
    return {
        "n_appended": int(stats["n"]),
        "n_vectors_total": int(total),
        "avg_quantization_err": float(stats["err"]),
    }


def _quantization_error(
    codes: DataFrame,
    vectors: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    id_col: str,
    vec_col: str,
) -> dict:
    """Mean L2 between each vector and its PQ reconstruction
    (centroid[list] + codebook[j][codes[j]]) — one broadcast join on id
    plus an Arrow-batched error UDF; rows count + mean only."""
    C = np.asarray(cents, dtype=np.float64)
    B = np.asarray(books, dtype=np.float64)
    m, _, dsub = B.shape
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def err(v: pd.Series, lst: pd.Series, cds: pd.Series) -> pd.Series:
        out = np.full(len(v), np.nan)
        for i in range(len(v)):
            x, l, c = v.iloc[i], lst.iloc[i], cds.iloc[i]
            if x is None or l is None or c is None:
                continue
            rec = C[int(l)].copy()
            for j in range(m):
                rec[j * dsub : (j + 1) * dsub] += B[j][int(c[j])]
            out[i] = float(np.linalg.norm(np.asarray(x, dtype=np.float64) - rec))
        return pd.Series(out)

    joined = codes.join(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_v")
        ),
        "neighbor_id",
    )
    row = joined.select(
        err(F.col("_v"), F.col("list"), F.col("codes")).alias("_e")
    ).agg(
        F.count("_e").alias("n"), F.avg("_e").alias("err")
    ).collect()[0]
    return {"n": row["n"] or 0, "err": row["err"] if row["err"] is not None else 0.0}


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 12,
    seed: int = 2024,
    max_bucket_size: int | None = 10_000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, sim >= threshold).

    Banded SRP-LSH: 12 planes x 12 independent plane sets (4096 buckets
    per table). A pair at cosine s collides in one table with prob
    p(s)^12 where p = 1 - acos(s)/pi, so recall = 1-(1-p^12)^12:
    ~0.87 at s=0.90, ~0.95 at 0.93, ~0.98 at 0.95, ~1.0 for true
    copies — the b/L knobs trade bucket granularity against recall
    explicitly. ``max_bucket_size`` caps
    degenerate buckets BEFORE the self-join (a 4M-row hot bucket is
    ~10^13 pairs; capped members still meet in their other tables), so
    the worst-case join size is bounded by n_tables * cap * |bucket
    count| rather than quadratic in the hottest bucket.
    """
    if dim is None:
        dim = _vector_width(df, vec_col)
    v = df.select(F.col(id_col).alias("_id"), as_double(vec_col).alias("_v"))
    v = v.withColumn("_n", l2norm(F.col("_v")))
    # Persist the PACKED bucketed table (one (table,bucket) array per
    # row, vector payload NOT duplicated per table): the plan references
    # the bucketed rows three times (the bucket-size aggregation inside
    # _cap_buckets and both self-join sides), and each reference would
    # otherwise re-run the corpus scan + the n_tables*n_planes sign
    # computation — three ArrowEvalPython (BLAS sign) passes over the
    # corpus instead of one (the fingerprint_near_dup persist_fps
    # rationale). The cache holds corpus-size rows (vector + ~12
    # bytes/table), and MEMORY_AND_DISK spills instead of evicting at
    # scale; the explode itself is cheap JVM work re-run per reference.
    from pyspark import StorageLevel

    packed = _bucketed_packed(
        v, "_v", dim, n_planes, n_tables, seed
    ).persist(StorageLevel.MEMORY_AND_DISK)
    rows = _explode_buckets(packed)
    rows = _cap_buckets(rows, ["table", "bucket"], max_bucket_size)
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(b, ["table", "bucket"])
        .where(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            _cosine_sim("a._v", "b._v", "a._n", "b._n", 6),
        )
        .where(F.col("cosine_sim") >= threshold)
        .distinct()
    )


def embedding_quality_violations(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    norm_lo: float = 0.999,
    norm_hi: float = 1.001,
) -> DataFrame:
    """Vector-column validation — the embedding-table twin of the clip
    rule set, for corpora where the vectors ARE the training data: a
    wrong-dimension vector poisons every dot product, a NaN propagates
    through any reduction, an un-normalized vector silently distorts
    cosine ranking (dedup thresholds, ANN ordering).

    Three LAYERED findings per row (structural first, content last —
    the rule-set discipline):

      bad_shape:<vec>           size(vec) != dim        (NULL vec is
                                not_null's finding, skipped here)
      bad_type:<vec>            any element NaN or +/-Inf
      out_of_range:<vec>_norm   L2 norm outside [lo, hi] — checked ONLY
                                when shape and elements are clean (a
                                NaN norm would otherwise double-report:
                                Spark orders NaN above every value, so
                                `norm > hi` fires spuriously)

    Pure Catalyst (HOF exists/aggregate over the array column): one
    scan, no shuffle, no Python — screening 10^12 vectors costs exactly
    one pass, and the element fold stays in whole-stage codegen. The
    norm is computed by casting each element to double BEFORE squaring
    (float32 squares overflow/underflow earlier, and the oracle engines
    do their list arithmetic in double — same fold order, same result).
    """
    x = F.col(vec_col)
    bad_shape = x.isNotNull() & (F.size(x) != F.lit(dim))
    bad_elem = x.isNotNull() & F.exists(
        x, lambda v: F.isnan(v) | (F.abs(v) == F.lit(float("inf")))
    )
    norm = F.sqrt(
        F.aggregate(
            x,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    bad_norm = (
        x.isNotNull()
        & ~bad_shape
        & ~bad_elem
        & ((norm < F.lit(norm_lo)) | (norm > F.lit(norm_hi)))
    )
    hits = F.array_compact(
        F.array(
            F.when(bad_shape, F.lit(S.rule_id(S.BAD_SHAPE, vec_col))),
            F.when(bad_elem, F.lit(S.rule_id(S.BAD_TYPE, vec_col))),
            F.when(bad_norm, F.lit(S.rule_id(S.OUT_OF_RANGE, f"{vec_col}_norm"))),
        )
    )
    return (
        emb.select(F.col(id_col), F.explode(hits).alias("rule_id"))
        .select("rule_id", id_col, F.lit(vec_col).alias("column_name"))
    )
