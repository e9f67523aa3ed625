"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query side,
JVM-side dot products via zip_with/aggregate (no Python in the score
loop), window rank. Exact; O(N*Q) but embarrassingly parallel.

Scale path: random-hyperplane LSH — 64-bit signatures from deterministic
seeded planes, multi-probe via exact equality on one of 8 signature
blocks (the pigeonhole blocking simhash uses, dedup._signature_blocks),
exact re-rank inside candidate sets only. Sub-linear candidate
generation at 100 TB; planes are regenerated from the seed inside each
worker.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import SIG_BITS, _signature_blocks, _spread_if_narrow


def _vec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product: sum over zip_with products."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank).

    The query side is broadcast — the corpus never shuffles (a narrow
    single-file corpus scan is fanned out first so the score loop uses
    every core). Ties broken deterministically by vec_id."""
    c = _spread_if_narrow(corpus).select(
        F.col(id_col).alias("vec_id"), _vec(vec_col).alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _vec(vec_col).alias("qv")
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id", "vec_id", cosine(F.col("v"), F.col("qv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _planes(dim: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(SIG_BITS, dim)).astype(np.float64)


def _double_array_sql(values) -> str:
    """SQL text for a literal array<double>. repr() round-trips float64
    exactly; the D suffix makes each element a double literal."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in values) + ")"


def _lit_double_array(values) -> Column:
    """Literal array<double> in ONE py4j call. ``F.array(*[F.lit(x)...])``
    costs a py4j round-trip PER ELEMENT — a 64x64-plane signature built
    that way spent ~9s of pure driver-side gateway latency before any
    data moved (round-5 finding)."""
    return F.expr(_double_array_sql(values))


def rh_signature(
    vec_col, dim: int, seed: int = 42, cast: bool = True,
) -> Column:
    """Random-hyperplane signature as a bigint, via ONE vectorized pandas
    UDF: batch matmul against the (SIG_BITS x dim) plane matrix + bit-pack
    (bit i set iff ``v @ planes[i] > 0``). Planes are regenerated
    deterministically inside the worker (same seeded RandomState as
    _planes) — nothing rides the closure but two ints, so plan size
    and analysis time do not grow with ``dim`` (plane literals baked into
    a Catalyst expression reach ~50-100k nodes at real embedding widths
    and push generated code past the 64KB JVM method limit). Null or
    wrong-width rows get a NULL signature and drop out of block joins.

    ``cast=False`` skips the to-double transform; scan-heavy callers
    hoist ``_vec`` into its own projection and pass that column."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        import os

        # the matmul below may dispatch to BLAS: workers ARE the
        # parallelism, so pin library threads to 1. build_session pins
        # these for local mode; this setdefault covers executors whose
        # env was not prepared (cluster deploys) for backends that read
        # the env lazily. (Backends that bound their pool at import keep
        # whatever the executor env said — document in deploy notes.)
        for var in (
            "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"
        ):
            os.environ.setdefault(var, "1")
        if len(v) == 0:
            return pd.Series([], dtype="Int64")
        planes = _planes(dim, seed)  # deterministic per (args)
        vals = v.to_numpy()
        # null / wrong-width rows -> null signature instead of np.stack
        # raising and killing the task (round-4 review finding)
        ok = np.array(
            [x is not None and len(x) == dim for x in vals], dtype=bool
        )
        out = np.zeros(len(vals), dtype=np.int64)
        if ok.any():
            m = np.stack(vals[ok]).astype(np.float64, copy=False)
            bits = (m @ planes.T) > 0  # (ok_rows, SIG_BITS)
            weights = np.left_shift(
                np.uint64(1), np.arange(SIG_BITS, dtype=np.uint64)
            )
            out[ok] = (
                (bits.astype(np.uint64) * weights)
                .sum(axis=1, dtype=np.uint64)
                .view(np.int64)
            )
        res = pd.Series(out, dtype="Int64")
        res[~ok] = pd.NA
        return res

    return _sig(_vec(vec_col) if cast else vec_col)


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.9,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, WITHOUT an all-pairs
    cross join: random-hyperplane signatures (one Arrow matmul), pigeonhole
    block equi-join for candidates, exact cosine verify on candidates only
    — the same blocked shape as simhash_near_dups (both block through
    dedup._signature_blocks).

    Recall: a pair at cosine c has per-bit flip probability arccos(c)/pi;
    a candidate needs one exact 8-bit block of the 8. At the near-dup
    thresholds this operator is for (c >= ~0.9, flip p <= 0.15) the miss
    probability is (1-(1-p)^8)^8 ~ <1e-3 and falls fast as c->1; it is
    NOT suitable for low thresholds (c ~ 0.5) where an all-pairs or
    multi-table LSH is required.

    Scale shape: one corpus scan for signatures, explode x 8, one
    shuffle on (blk, key0); each candidate pair is emitted once, on its
    lowest agreeing block, and verified with a JVM cosine. No
    CartesianProduct anywhere in the plan (asserted in tests).

    ``dim`` is required: it sizes the hyperplanes, and inferring the width
    from data would need an eager driver-side job (``.first()``) inside an
    otherwise lazy operator (and crash on an empty frame)."""
    if dim is None:
        raise ValueError(
            "embedding_near_dups requires dim= (it sizes the hyperplanes; "
            "no eager data peek in a lazy operator)"
        )
    # hoist the to-double cast: the signature UDF and the verify stage
    # both reference ONE materialized "v" instead of re-running the cast
    # transform per use (HOFs are CodegenFallback, no CSE)
    pre = _spread_if_narrow(df).select(
        F.col(id_col).alias("id"), _vec(vec_col).alias("v")
    )
    sig = rh_signature("v", dim, seed, cast=False)
    blocked, keys, first = _signature_blocks(
        pre.select("id", "v", sig.alias("sig")), "sig", 8, 1
    )
    left = blocked.select(*keys, F.col("id").alias("a"),
                          F.col("v").alias("va"), F.col("sig").alias("sa"))
    right = blocked.select(*keys, F.col("id").alias("b"),
                           F.col("v").alias("vb"), F.col("sig").alias("sb"))
    cands = (
        left.join(right, keys)
        .filter(F.col("a") < F.col("b"))
        .filter(first(F.col("sa").bitwiseXOR(F.col("sb"))))
    )
    return (
        cands.withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    train_fraction: float | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans coarse quantizer ->
    corpus assigned to its nearest centroid -> each query searches only its
    n_probe nearest centroid lists -> exact cosine re-rank inside them.

    Scale shape: the corpus is scanned once for assignment (broadcast
    centroid model), then the search join is an equi-join on centroid id —
    a query touches n_probe/n_centroids of the data. Centroids train on a
    sample (train_fraction) so training never shuffles the full corpus.

    ``centroids`` supplies a pretrained coarse quantizer (the
    train-once-offline pattern): assignment becomes a pure-Catalyst argmin
    over literal centers — no ML training job, fully deterministic (KMeans
    training aggregates floats in partition order, so its centroids can
    differ in final bits across runs)."""
    if centroids is not None:
        c = _spread_if_narrow(corpus).select(
            F.col(id_col).alias("vec_id"), _vec(vec_col).alias("v")
        )
        dist_structs = F.array(*[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        _lit_double_array(ctr),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(i).alias("centroid"),
            )
            for i, ctr in enumerate(centroids)
        ])
        assigned = c.withColumn(
            "centroid", F.array_min(dist_structs)["centroid"]
        )
        centers = [list(map(float, ctr)) for ctr in centroids]
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        c = _spread_if_narrow(corpus).select(
            F.col(id_col).alias("vec_id"), _vec(vec_col).alias("v")
        ).withColumn("features", array_to_vector("v"))
        train = c
        if train_fraction and train_fraction < 1.0:
            train = c.sample(train_fraction, seed=seed)
        model = KMeans(
            k=n_centroids, seed=seed, featuresCol="features"
        ).fit(train)
        assigned = model.transform(c).withColumnRenamed(
            "prediction", "centroid"
        ).drop("features")
        centers = [np.asarray(v).tolist() for v in model.clusterCenters()]
    centers_df = queries.sparkSession.createDataFrame(
        [(i, c_) for i, c_ in enumerate(centers)],
        "centroid int, center array<double>",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _vec(vec_col).alias("qv")
    )
    # per query: the n_probe closest centroids (tiny cross join: Q x K)
    qc = q.join(F.broadcast(centers_df)).withColumn(
        "dist",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("center"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("centroid"))
    probes = (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "qv", "centroid")
    )
    scored = assigned.join(F.broadcast(probes), "centroid").select(
        "query_id", "vec_id", cosine(F.col("v"), F.col("qv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates share >= one exact 8-bit signature
    block with the query (multi-probe by pigeonhole), each (query,
    vector) pair emitted once on its lowest agreeing block, re-ranked
    exactly."""

    def blocked(df, idc, name):
        pre = df.select(
            F.col(idc).alias(name), _vec(vec_col).alias(f"v_{name}")
        )
        sig = rh_signature(f"v_{name}", dim, seed, cast=False)
        return _signature_blocks(
            pre.select(name, f"v_{name}", sig.alias(f"s_{name}")),
            f"s_{name}", 8, 1,
        )

    cb, keys, first = blocked(_spread_if_narrow(corpus), id_col, "vec_id")
    qb, _, _ = blocked(queries, query_id_col, "query_id")
    cands = cb.join(F.broadcast(qb), keys).filter(
        first(F.col("s_vec_id").bitwiseXOR(F.col("s_query_id")))
    )
    scored = cands.select(
        "query_id", "vec_id",
        cosine(F.col("v_vec_id"), F.col("v_query_id")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
