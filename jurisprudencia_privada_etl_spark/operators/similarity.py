"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — one broadcast nested-loop of the query
set against the corpus, dot products as JVM ``zip_with``/``aggregate``
expressions (no Python in the scoring loop).

Scale path: LSH-bucketed ANN — random-hyperplane sign bits put each vector
in a bucket; only same-bucket (and optionally neighboring-probe) candidates
are scored.  Hyperplanes are generated deterministically from a seed at the
driver and enter the plan as literals, so the operator is replayable.

At 100 TB the corpus side stays partitioned; only the (small) query set is
broadcast — the cross product never shuffles the corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _lit_vec(vals: list[float]) -> Column:
    """Array-of-double literal built with ONE py4j round trip.

    ``F.array(*[F.lit(v) ...])`` costs one driver↔JVM call per element —
    ~0.5 ms each, so a 64-dim plane/centroid set burns hundreds of ms of
    pure plan-construction time per query (measured: the old form made
    ivf_topk spend 1.0 s building its DataFrame before any job ran).  A
    single parsed ``array(<v>D, ...)`` expression is ~10× cheaper to build
    and bit-identical: ``repr(float)`` is the shortest round-trip form and
    the ``D`` suffix makes the SQL lexer read it as an IEEE double
    (verified for subnormals, -0.0 and DBL_MAX).  NaN and ±Infinity have
    no numeric literal, so they enter as ``CAST('NaN' AS DOUBLE)`` and
    ``CAST('[-]Infinity' AS DOUBLE)``."""
    return F.expr("array(" + ",".join(_double_sql(float(v)) for v in vals) + ")")


def _double_sql(v: float) -> str:
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('-Infinity' AS DOUBLE)" if v < 0 else "CAST('Infinity' AS DOUBLE)"
    return f"{v!r}D"


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """In-order double fold — bit-identical to a sequential oracle sum, so
    the ORACLE-PAIRED queries rank identically to DuckDB.  Higher-order
    functions are interpreted (not codegen'd): for the hot approximate paths
    use cosine_pandas below (~5× on 64-dim batches)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_pandas(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine over two array<float/double> columns: one
    numpy matmul per batch instead of per-row interpreted HOF folds.  Float
    summation order differs from the sequential fold (pairwise numpy sums) —
    fine for the approximate paths, NOT for oracle-paired ranking."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        A = np.stack(xs.values).astype(np.float64)
        B = np.stack(ys.values).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(np.einsum("ij,ij->i", B, B))
        with np.errstate(divide="ignore", invalid="ignore"):
            out = num / den
        # zero-norm vectors → NULL, matching the expr form's SQL semantics.
        # A NaN here would be CATASTROPHIC: Spark orders NaN above every
        # double, so a zero vector would rank top-1 in every probed bucket
        # and `NaN >= threshold` is true, deleting its bucket-mates as dups.
        bad = den == 0
        if bad.any():
            return pd.Series(
                [None if b else v for v, b in zip(out.tolist(), bad)], dtype=object
            )
        return pd.Series(out)

    return cos(a, b)


def _cosine_impl(impl: str):
    return cosine_pandas if impl == "pandas" else cosine


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    queries: (query_id, embedding).  The query side is broadcast; scoring is
    a JVM expression; top-k is a per-query row_number window.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no numpy RNG state —
    a hash-based normal approximation keeps replayability trivial)."""
    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(dim):
            # 12-term Irwin–Hall sum ≈ normal; inputs from a splitmix-style hash
            acc = 0.0
            x = (seed * 1_000_003 + p * 10_007 + d) & 0xFFFFFFFF
            for _ in range(12):
                x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
                acc += x / 0xFFFFFFFF
            vals.append(acc - 6.0)
        n = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([v / n for v in vals])
    return planes


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from random hyperplanes — an int in [0, 2^n)."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = _lit_vec(plane)
        bit = F.when(dot(vec_col, p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def _probe_masks(n_planes: int, n_probe_bits: int) -> list[int]:
    """All XOR masks with popcount <= n_probe_bits — the multi-probe set.
    Tiny (sum of C(n, <=m)); computed at plan time, enters the plan as
    literals.  Built from bit-position combinations so cost scales with the
    OUTPUT size, not 2**n_planes — n_planes=64 with 2 probe bits is ~2k
    masks, not a 2^64 scan."""
    import itertools

    masks = []
    for m in range(min(n_probe_bits, n_planes) + 1):
        for bits in itertools.combinations(range(n_planes), m):
            acc = 0
            for b in bits:
                acc |= 1 << b
            masks.append(acc)
    return masks


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 4,
    seed: int = 42,
    dim: int | None = None,
    n_probe_bits: int = 1,
    impl: str = "pandas",  # "pandas" (Arrow-vectorized cosine) | "expr" (HOF fold)
) -> DataFrame:
    """Approximate top-k: only candidates sharing (a probe of) the query's
    LSH bucket are scored.  Equi-join on the bucket id replaces the cross
    join — the corpus is scanned once and shuffled on a uniform bucket key.

    Multi-probe: each query also probes every bucket within Hamming distance
    ``n_probe_bits`` of its own (the standard multi-probe LSH recall fix for
    vectors that land near a hyperplane).  Only the SMALL broadcast query
    side fans out (x sum(C(n_planes, <=m))); the corpus is never duplicated.
    ``n_probe_bits=0`` restores single-bucket probing.

    Pass ``dim=`` at scale: leaving it None launches a tiny ``first()`` job
    at plan-build time to sniff the vector width — harmless interactively,
    but a per-call driver round trip a production pipeline should not pay.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.withColumn("_bucket", lsh_bucket(F.col(vec_col), planes))
    masks = _probe_masks(n_planes, n_probe_bits)
    q = (
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
        .withColumn("_home", lsh_bucket(F.col("_qvec"), planes))
        .withColumn(
            "_bucket",
            F.explode(F.array(*[F.col("_home").bitwiseXOR(F.lit(m)) for m in masks])),
        )
        .drop("_home")
    )
    # dedupe (query, candidate) pairs BEFORE scoring: a candidate can match
    # through several probed buckets, and scoring first would waste one
    # cosine evaluation per extra probe hit (the duplicated rows carry
    # identical vectors, so which one survives is immaterial)
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .select(F.col(query_id_col), F.col(id_col), F.col(vec_col), F.col("_qvec"))
        .dropDuplicates([query_id_col, id_col])
        .select(
            F.col(query_id_col),
            F.col(id_col),
            _cosine_impl(impl)(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the exact
    one: |approx∩exact within rank<=k| / min(k, |exact@k|).  Both inputs are
    (query_id, vec_id, ..., rank) frames as produced by *_topk."""
    a = approx.where(F.col("rank") <= k).select(query_id_col, id_col)
    e = exact.where(F.col("rank") <= k).select(query_id_col, id_col)
    hits = a.join(e, [query_id_col, id_col], "inner").groupBy(query_id_col).agg(
        F.count("*").alias("_hits")
    )
    denom = e.groupBy(query_id_col).agg(F.count("*").alias("_n"))
    return denom.join(hits, query_id_col, "left").select(
        query_id_col,
        (F.coalesce(F.col("_hits"), F.lit(0)) / F.col("_n")).alias("recall"),
    )


def mean_recall_at_k(approx: DataFrame, exact: DataFrame, k: int, **kw) -> float:
    row = recall_at_k(approx, exact, k, **kw).agg(F.avg("recall").alias("r")).first()
    return float(row["r"]) if row["r"] is not None else 0.0


def embedding_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    n_probe_bits: int = 1,
    impl: str = "pandas",
) -> DataFrame:
    """Embedding-cosine near-duplicate removal (the last dedup family
    member): LSH sign-buckets generate candidate pairs, exact cosine >=
    threshold verifies, the higher id of each confirmed pair is dropped.

    Scale shape mirrors minhash-LSH dedup: the self-join is an equi-join on
    a uniform bucket key (multi-probe fans the LEFT side out by
    sum(C(n_planes, <=m)) to catch near-dups split by a hyperplane), cosine
    runs only on candidates, and no all-pairs product ever forms.
    Approximate by construction — a near-dup pair differing in > m sign bits
    is missed; raise n_probe_bits (or lower n_planes) for recall, at
    candidate-volume cost.

    Pass ``dim=`` at scale (None sniffs it with a driver-side ``first()``
    job at plan-build time — see lsh_topk)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    masks = _probe_masks(n_planes, n_probe_bits)
    base = df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "_home", lsh_bucket(F.col(vec_col), planes)
    )
    a = base.withColumn(
        "_b", F.explode(F.array(*[F.col("_home").bitwiseXOR(F.lit(m)) for m in masks]))
    ).select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), "_b")
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("_home").alias("_b")
    ).hint("shuffle_hash")  # the build side is the CORPUS — never broadcastable at scale
    dup_ids = (
        a.join(b, ["_b"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(_cosine_impl(impl)(F.col("_va"), F.col("_vb")) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dup_ids, id_col, "left_anti")


def anchor_centroids(dim: int, n_lists: int, seed: int = 42) -> list[list[float]]:
    """Deterministic data-independent coarse quantizer: seeded unit anchors
    (the same hash-based normal generator as the LSH hyperplanes).  Squared-
    L2 argmin against unit anchors is argmax of the dot product, i.e. a
    random-direction partition — a weaker quantizer than k-means but a pure
    plan-time literal: replayable, shippable to any engine, and exactly what
    a persisted index looks like to the query (``centroids=`` is just a list
    of floats however it was trained).  Use ``kmeans_centroids`` to train a
    data-adaptive set offline; pass either here."""
    return _hyperplanes(dim, n_lists, seed)


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 30,
) -> list[list[float]]:
    """Deterministic k-means centroids via Spark MLlib (seeded).

    ``max_iter=30``: at 10 iterations the quantizer can stop short of
    convergence and LOSE to data-independent seeded anchors (measured
    recall@5 0.88 vs 0.92 on the sf0.1 embeddings at 10 iters; 0.92 at 30,
    seed-stable).  The fit is a one-time index-build cost, never per-query,
    so the extra iterations are the right default."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feat)
    return [
        (c.toArray().tolist() if hasattr(c, "toArray") else list(map(float, c)))
        for c in model.clusterCenters()
    ]


def _nearest_centroid_expr(vec_name: str, centroids: list[list[float]], n: int = 1) -> Column:
    """Index array of the n nearest centroids (squared L2), as a JVM expr.

    ``vec_name`` is a plain column name (the only call sites bind one).
    The whole expression — per-centroid squared-L2 fold, sort, index
    projection — is built as ONE parsed SQL string: the per-element /
    per-lambda ``Column`` construction of the old form cost ~0.9 s of
    py4j round trips per call at 8×64-dim centroids (see ``_lit_vec``);
    the parsed form builds in ~1 ms and is expression-identical (same
    fold order, same literals — verified bit-equal)."""
    v = f"`{vec_name}`"
    dists = "array(" + ",".join(
        "struct(aggregate(zip_with(%s, %s, (x, y) -> (x - y) * (x - y)), 0.0D, "
        "(acc, w) -> acc + w) as d, %d as i)"
        % (v, "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")", i)
        for i, c in enumerate(centroids)
    ) + ")"
    return F.expr(f"slice(transform(array_sort({dists}), s -> s.i), 1, {int(n)})")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    impl: str = "pandas",
) -> DataFrame:
    """IVF-style ANN: k-means partitions the corpus into n_lists inverted
    lists; each query scores only the lists of its n_probe nearest
    centroids.  Scale path: the corpus is scanned once to assign lists (a
    pure map), the probe join is an equi-join on the small list id, and the
    per-query candidate set shrinks by ~n_probe/n_lists.

    Pass ``centroids`` (from a prior ``kmeans_centroids`` call, persisted
    however you like — they're a plain list of floats) to skip the index
    build: at scale the k-means fit is a one-time cost, not per-query."""
    if centroids is None:
        centroids = kmeans_centroids(corpus, n_lists, vec_col, seed)
    c = corpus.withColumn(
        "_list", _nearest_centroid_expr(vec_col, centroids, 1)[0]
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    ).withColumn("_probe", F.explode(_nearest_centroid_expr("_qvec", centroids, n_probe)))
    scored = c.join(F.broadcast(q), c["_list"] == q["_probe"]).select(
        query_id_col,
        id_col,
        _cosine_impl(impl)(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
