"""Similarity search over embedding columns (array<float>).

Two paths per the build brief:
- brute-force cosine top-k — fully declarative (zip_with/aggregate, JVM
  codegen, no Python), the correctness baseline and DuckDB-oracleable;
- IVF-style bucketed ANN — random-hyperplane LSH with a MATERIALIZED index
  (parquet partitioned by bucket), the 100-TB scale path: a probe reads
  only the matching bucket partitions off storage (partition pruning), it
  never scans the full table.

Determinism note: bucket signs are computed with left-associated double
arithmetic — ``lsh_index`` runs the fold vectorized in ``mapInPandas``
(one numpy op per term, in index order), and ``bucket_expr`` /
``bucket_of`` state the same fold as Catalyst expressions and as
driver-side Python — so the SQL (DuckDB oracle) and Python twins
reproduce identical buckets bit-for-bit at any dimensionality.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# per-write file committer algorithm option (see build_lsh_index)
_V2_COMMITTER = "mapreduce.fileoutputcommitter.algorithm.version"


def _cosine_expr(vec_col: str, qcol: str):
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col(qcol), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    norm_q = F.sqrt(
        F.aggregate(
            F.transform(F.col(qcol), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (norm_v * norm_q)


def cosine_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 20,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against a one-row query DataFrame.

    The query side is crossJoin-broadcast (one row). Round 6: scoring
    runs as a vectorized exact-fold kernel (the `_cosine_expr`
    higher-order expressions are interpreted per row per term — the
    dominant cost of every brute-force/recall lane). The kernel emits the
    EXACT left-associated dot and the two norms (identical IEEE op
    sequence to the expression fold); division, HALF_UP rounding and the
    top-k sort stay Spark expressions, so results — including the
    original's NaN-for-zero-norm ordering (NaN sorts above every number
    in a desc sort) — are bit-identical. Rows where Spark would null the
    cosine (null vec, null element, length mismatch vs the query) are
    flagged JVM-side and emitted as null pieces.
    """
    q = query.select(F.col(vec_col).alias("_q"))
    joined = df.crossJoin(F.broadcast(q))
    null_flag = (
        F.col(vec_col).isNull()
        | F.exists(F.col(vec_col), lambda x: x.isNull())
        | F.col("_q").isNull()
        | F.exists(F.col("_q"), lambda x: x.isNull())
        | (F.size(vec_col) != F.size("_q"))
    ).alias("_vnull")

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = pd.DataFrame({"key": pdf.iloc[:, 0]})
            if n == 0:
                out["_dot"] = pd.Series([], dtype="float64")
                out["_nv"] = pd.Series([], dtype="float64")
                out["_nq"] = pd.Series([], dtype="float64")
                yield out
                continue
            vnull = pdf["_vnull"].to_numpy(dtype=bool)
            ok = np.flatnonzero(~vnull)
            dots = np.full(n, np.nan)
            nvs = np.full(n, np.nan)
            nqs = np.full(n, np.nan)
            if ok.size:
                vecs = pdf[vec_col].to_numpy()
                qv = np.asarray(pdf["_q"].to_numpy()[ok[0]], dtype=np.float64)
                V = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in ok])
                d = qv.shape[0]
                dot = np.zeros(len(ok))
                nv = np.zeros(len(ok))
                nq = 0.0
                for j in range(d):
                    dot += V[:, j] * qv[j]  # exact fold order
                    nv += V[:, j] * V[:, j]
                    nq = nq + qv[j] * qv[j]
                dots[ok] = dot
                nvs[ok] = np.sqrt(nv)
                nqs[ok] = np.sqrt(nq)
            out["_dot"] = dots
            out["_nv"] = nvs
            out["_nq"] = nqs
            if vnull.any():
                for c in ("_dot", "_nv", "_nq"):
                    col = out[c].astype(object)
                    col[vnull] = None
                    out[c] = col
            yield out

    kt = dict(df.dtypes)[key_col]
    pieces = joined.select(key_col, vec_col, "_q", null_flag).mapInPandas(
        score, schema=f"key {kt}, _dot double, _nv double, _nq double"
    )
    scored = pieces.select(
        F.col("key").alias(key_col),
        F.round(F.col("_dot") / (F.col("_nv") * F.col("_nq")), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(key_col)).limit(k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(n_planes, dim)).astype(np.float64)


def bucket_expr(vec_col: str, planes: np.ndarray):
    """Catalyst LSH bucket id: bit i set iff dot(vec, plane_i) > 0.

    Left-associated double sums — bit-reproducible in SQL or Python. The
    dot is one ``aggregate(zip_with(...))`` higher-order expression per
    plane (a tight fold the evaluator runs per row) instead of a
    planes×dim ``element_at`` chain, whose O(10^3)-node tree blew past the
    codegen method limit and fell back to per-node interpreted eval. The
    fold seeds with 0.0, and ``0.0 + t0 == t0`` for every IEEE double
    except a zero-sign flip, which ``dot > 0`` cannot observe — so bucket
    ids (and the SQL oracle twins) are unchanged."""
    total = None
    for i, row in enumerate(planes):
        weights = F.array(*[F.lit(float(w)) for w in row])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), weights, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
        total = bit if total is None else total + bit
    return total.cast("long")


def bucket_of(vec, planes: np.ndarray) -> int:
    """Driver-side twin of :func:`bucket_expr` (same fold order)."""
    b = 0
    for i, row in enumerate(planes):
        dot = None
        for x, w in zip(vec, row):
            term = float(x) * float(w)
            dot = term if dot is None else dot + term
        if dot is not None and dot > 0:
            b |= 1 << i
    return b


def _vector_dim(df: DataFrame, vec_col: str) -> int:
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return first["d"] if first else 0


def lsh_index(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_planes: int = 10,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Attach an LSH bucket id column. Pass ``dim`` to skip the one-row
    dimension probe job.

    Round 6: the Catalyst ``aggregate(zip_with(...))`` fold per plane was
    interpreted per row per term (higher-order functions don't codegen) —
    the dominant cost of ann_lsh_build and the bucketing stage of
    embedding_near_dups. The vectorized kernel below runs the IDENTICAL
    left-associated double fold (acc starts at 0.0; acc += x_j·w_j in
    index order, one numpy op per term over the whole batch), so bucket
    ids are bit-for-bit the expression form's — and therefore the SQL
    oracle twins' (``bucket_expr``/``bucket_of`` remain those twins).
    Catalyst null/length semantics are reproduced explicitly: a null vec,
    a null element, or a length != dim nulls the dot for every plane
    (zip_with pads the shorter side with null), so every bit is 0."""
    if dim is None:
        dim = _vector_dim(df, vec_col)
    planes = hyperplanes(dim, n_planes, seed)

    # Null semantics are decided JVM-side (pandas blurs null into NaN, and
    # the two differ under Spark comparisons: a null dot -> when(...)
    # otherwise 0 -> bit 0, while a genuine-NaN dot compares NaN > 0 ->
    # TRUE in Spark). A null vec or any null element nulls every plane's
    # dot -> bucket 0; the kernel reproduces the NaN branch with
    # (acc > 0) | isnan(acc).
    null_flag = (
        F.col(vec_col).isNull()
        | F.exists(F.col(vec_col), lambda x: x.isNull())
    ).alias("_vnull")

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = pdf[vec_col].to_numpy()
            n = len(pdf)
            buckets = np.zeros(n, dtype=np.int64)
            vnull = pdf["_vnull"].to_numpy(dtype=bool)
            lens = np.fromiter(
                ((len(v) if v is not None else -1) for v in vecs), np.int64, n
            )
            # zip_with pads length mismatches with null -> null dots ->
            # bucket 0, same as the null rows
            sel = np.flatnonzero((lens == dim) & ~vnull)
            if sel.size:
                V = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in sel])
                b = np.zeros(len(sel), dtype=np.int64)
                for i, row in enumerate(planes):
                    acc = np.zeros(len(sel))
                    for j in range(dim):
                        acc += V[:, j] * row[j]  # exact fold order
                    bit = (acc > 0) | np.isnan(acc)  # Spark: NaN > 0 is true
                    b |= bit.astype(np.int64) << i
                buckets[sel] = b
            out = pdf[[pdf.columns[0], pdf.columns[1]]].copy()
            out["bucket"] = buckets
            yield out

    kt, vt = dict(df.dtypes)[key_col], dict(df.dtypes)[vec_col]
    return df.select(key_col, vec_col, null_flag).mapInPandas(
        assign, schema=f"{key_col} {kt}, {vec_col} {vt}, bucket long"
    )


def build_lsh_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_planes: int = 10,
    seed: int = 42,
    dim: int | None = None,
) -> str:
    """MATERIALIZE the LSH index: parquet partitioned by bucket, so probes
    read only matching bucket directories (storage-level partition
    pruning). Build once, probe many — the index is never recomputed per
    query. Build parameters are pinned in ``_meta.json`` inside the index
    (underscore prefix → invisible to Spark's parquet listing), so probe
    params can never drift from build params."""
    if dim is None:
        dim = _vector_dim(df, vec_col)
    indexed = lsh_index(df, vec_col, key_col, n_planes, seed, dim)
    # Co-locate each bucket in one task before the dynamic-partition write:
    # one output file per bucket instead of (tasks × buckets) tiny files —
    # both the build and every subsequent probe scan touch far fewer files.
    # v2 committer: one rename per task instead of a serial driver-side
    # per-directory pass at job commit; its weaker job atomicity is fine
    # for a build-once index that is rewritten whole on failure
    (
        indexed.repartition("bucket").write.mode("overwrite")
        .option(_V2_COMMITTER, "2").partitionBy("bucket").parquet(path)
    )
    _invalidate_index_cache(path)  # rebuild invalidates across all sessions
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump(
            {"n_planes": n_planes, "seed": seed, "dim": dim,
             "vec_col": vec_col, "key_col": key_col},
            f,
        )
    return path


def probe_buckets(query_vec, planes: np.ndarray, radius: int = 1) -> list[int]:
    """Query bucket plus every bucket within Hamming distance ``radius``
    (multi-probe LSH with a closed-form probe set — SQL-reproducible)."""
    base = bucket_of(query_vec, planes)
    probes = {base}
    if radius >= 1:
        for i in range(len(planes)):
            probes.add(base ^ (1 << i))
    if radius >= 2:
        for i in range(len(planes)):
            for j in range(i + 1, len(planes)):
                probes.add(base ^ (1 << i) ^ (1 << j))
    return sorted(probes)


def lsh_topk(
    indexed: DataFrame,
    query_vec: list[float],
    k: int = 20,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_planes: int = 10,
    seed: int = 42,
    radius: int = 1,
) -> DataFrame:
    """ANN top-k over an indexed DataFrame (bucket column attached):
    scan only the query's bucket and its Hamming-``radius`` neighbors.

    The query vector is inlined as a LITERAL array expression — no
    createDataFrame, no broadcast-exchange stage: a steady-state probe is
    one pruned scan + TakeOrderedAndProject, nothing else. Arithmetic is
    identical to the crossJoin form (same zip_with/aggregate fold over the
    same doubles), so oracles and recall are unchanged."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    probes = probe_buckets(query_vec, planes, radius)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    candidates = indexed.filter(F.col("bucket").isin(probes))
    scored = candidates.withColumn("_q", q).select(
        F.col(key_col),
        F.round(_cosine_expr(vec_col, "_q"), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(key_col)).limit(k)


# (applicationId, index path) -> DataFrame: re-probing an index skips the
# file-listing/schema job — the InMemoryFileIndex inside the cached
# DataFrame is reused, so a steady-state probe is ONE Spark job. Keyed by
# the stable applicationId (never id(spark), which a GC can recycle onto a
# new session), and rebuilds invalidate the path across ALL sessions so a
# session probing an index another session just overwrote never sees stale
# file listings.
_INDEX_DF_CACHE: dict[tuple[str, str], DataFrame] = {}


def _invalidate_index_cache(path: str) -> None:
    for key in [k for k in _INDEX_DF_CACHE if k[1] == path]:
        _INDEX_DF_CACHE.pop(key, None)


def _read_index(spark: SparkSession, path: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, path)
    df = _INDEX_DF_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(path)
        _INDEX_DF_CACHE[key] = df
    return df


# ---------------------------------------------------------------------------
# IVF — inverted-file ANN (coarse k-means quantizer + cluster-pruned probe)
# ---------------------------------------------------------------------------


def ivf_centroids(mat: np.ndarray, k: int, iters: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic Lloyd's k-means on a bounded sample (float64).

    Runs driver-side on a few hundred sampled vectors — the standard IVF
    recipe (train coarse quantizer on a sample, assign the full corpus
    distributed). Same input rows ⇒ bit-identical centroids, which the
    DuckDB oracle relies on (it re-derives them from the same sorted
    sample and embeds them as literals)."""
    mat = np.asarray(mat, dtype=np.float64)
    n = len(mat)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    centroids = mat[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for j in range(k):
            members = mat[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def _centroid_score_expr(vec_col: str, centroid: np.ndarray):
    """Catalyst distance score to one centroid: ||c||² − 2·(v·c) — the
    argmin-equivalent of squared L2 (the ||v||² term is centroid-invariant).
    Left-associated double fold, so the SQL twin restated with the same
    literals reproduces identical doubles."""
    weights = F.array(*[F.lit(float(w)) for w in centroid])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), weights, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    c2 = float(np.dot(centroid, centroid))
    return F.lit(c2) - F.lit(2.0) * dot


def ivf_cluster_expr(vec_col: str, centroids: np.ndarray):
    """Cluster id = index of the minimum centroid score (first-wins ties —
    array_position returns the FIRST match, same as DuckDB list_position)."""
    scores = F.array(*[_centroid_score_expr(vec_col, c) for c in centroids])
    return (F.array_position(scores, F.array_min(scores)) - 1).cast("int")


def _centroid_score_py(vec, centroid: np.ndarray) -> float:
    dot = 0.0
    for x, w in zip(vec, centroid):
        dot = dot + float(x) * float(w)
    return float(np.dot(centroid, centroid)) - 2.0 * dot


def ivf_probe_clusters(query_vec, centroids: np.ndarray, nprobe: int) -> list[int]:
    """The nprobe nearest clusters to the query (driver-side twin of the
    same fold; ties break on cluster id)."""
    scored = sorted(
        (( _centroid_score_py(query_vec, c), j) for j, c in enumerate(centroids)),
    )
    return sorted(j for _, j in scored[:nprobe])


def build_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    k_clusters: int = 16,
    sample_limit: int = 256,
    iters: int = 8,
    seed: int = 42,
) -> str:
    """MATERIALIZE an IVF index: train the coarse quantizer on a bounded
    deterministic sample (lowest ``sample_limit`` keys, sorted), assign
    every vector its nearest-centroid cluster with pure Catalyst
    expressions, write parquet ``partitionBy(cluster)``. Probes read only
    ``nprobe`` cluster directories — the same storage-level pruning shape
    as the LSH index, with data-adaptive cells instead of random
    hyperplanes."""
    sample_rows = (
        df.select(key_col, vec_col).orderBy(key_col).limit(sample_limit).collect()
    )
    mat = np.array([list(r[vec_col]) for r in sample_rows], dtype=np.float64)
    centroids = ivf_centroids(mat, k_clusters, iters, seed)
    indexed = df.select(key_col, vec_col).withColumn(
        "cluster", ivf_cluster_expr(vec_col, centroids)
    )
    (
        indexed.repartition("cluster").write.mode("overwrite")
        .option(_V2_COMMITTER, "2").partitionBy("cluster").parquet(path)
    )
    _invalidate_index_cache(path)  # rebuild invalidates across all sessions
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump(
            {"kind": "ivf", "centroids": [[float(x) for x in c] for c in centroids],
             "vec_col": vec_col, "key_col": key_col},
            f,
        )
    return path


def ivf_topk_indexed(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 20,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k against a materialized IVF index: scan only the nprobe
    nearest cluster directories (PartitionFilters on `cluster`), score with
    the literal-query cosine — one pruned-scan job per probe."""
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    centroids = np.array(meta["centroids"], dtype=np.float64)
    vec_col, key_col = meta["vec_col"], meta["key_col"]
    probes = ivf_probe_clusters(query_vec, centroids, nprobe)
    indexed = _read_index(spark, path)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = indexed.filter(F.col("cluster").isin(probes)).withColumn("_q", q).select(
        F.col(key_col),
        F.round(_cosine_expr(vec_col, "_q"), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(key_col)).limit(k)


def lsh_topk_indexed(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 20,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_planes: int = 10,
    seed: int = 42,
    radius: int = 1,
) -> DataFrame:
    """ANN top-k against a MATERIALIZED index: the bucket filter lands on
    the parquet partition column, so only probe directories are read
    (verify with .explain(): PartitionFilters, not a full scan). When the
    index carries ``_meta.json`` (written by build_lsh_index), its pinned
    plane parameters override the arguments — probe/build drift is
    impossible."""
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        n_planes, seed = meta["n_planes"], meta["seed"]
        vec_col = meta.get("vec_col", vec_col)
        key_col = meta.get("key_col", key_col)
    indexed = _read_index(spark, path)
    return lsh_topk(indexed, query_vec, k, vec_col, key_col, n_planes, seed, radius)
