"""IVF (inverted-file) approximate nearest neighbour over embeddings.

The second ANN scale path next to the LSH signature index
(`ml/similarity.py`): a FAISS-style IVF-Flat layout re-expressed
Spark-first. The coarse quantizer (spherical k-means) trains on a
driver-side SAMPLE — the standard practice for trillion-row corpora
(FAISS trains on ~256·k vectors, not the corpus) — and everything
distributed stays in Catalyst:

- **build** (once, at ingest): one pandas-UDF pass assigns each vector
  to its nearest centroid; rows are written hive-partitioned by
  ``pt = list_id % list_partitions`` and SORTED by ``list_id`` within
  each partition, embeddings stored INLINE (each vector lives in exactly
  one list, so queries never join back to the corpus — unlike LSH where
  a vector appears ``n_tables`` times).
- **query**: probe selection (top-``nprobe`` centroid lists per query)
  runs driver-side in numpy over the tiny centroid matrix; the
  distributed plan is a partition-pruned + row-group-pruned scan of the
  probed lists, a broadcast join to the query vectors, a pure-Catalyst
  cosine (one dot fold per candidate, `cos_prenormed_expr`), and ONE
  shuffle for the per-query rank window.
  Zero Python evals in the executed plan (plan-shape-tested).

Recall is governed by ``nprobe / n_centroids`` — IVF is approximate by
design, so the driver-gate oracle does not pretend otherwise: the DuckDB
twin reads the SAME stored index parquet (lists + centroid sidecar) and
replicates probing + ranking, verifying the distributed plumbing
exactly at any recall. Measured recall vs the exact oracle is asserted
separately in pytest.

GeoMesa has no ANN operator; this extends the LLM-training-pipeline
surface (SURVEY §2 extension) with the same write-time index discipline
as the reference's `toIndexKey` pipeline
(geomesa-index-api IndexKeySpace.scala).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from geomesa_spark.ml.similarity import (_collect_matrix, _query_vectors,
                                         _rank_topk, cos_prenormed_expr,
                                         norm_expr)
from geomesa_spark.plans.planner import local_frame

_IVF_META_FILE = "_ivf_meta.json"
_IVF_CENTROID_FILE = "_ivf_centroids.parquet"
_IVF_META_KEYS = ("n_centroids", "dim", "seed", "list_partitions")


def default_n_centroids(n_rows: int, *, lo: int = 4,
                        hi: int = 65536) -> int:
    """sqrt(n) coarse-quantizer sizing (the FAISS IVF rule of thumb):
    list length and list count grow together, so probe cost stays
    O(nprobe·sqrt(n)) instead of degenerating to a scan."""
    if n_rows <= 0:
        return lo
    return max(lo, min(hi, round(math.sqrt(n_rows))))


def _normalize(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                            1e-12)


def spherical_kmeans(mat: np.ndarray, k: int, *, seed: int = 11,
                     iters: int = 20) -> np.ndarray:
    """Deterministic spherical k-means (cosine metric): unit-norm rows,
    k-means++-style init, centroids re-normalized each iteration.
    Runs driver-side on a bounded sample — never distributed."""
    xn = _normalize(np.asarray(mat, dtype=np.float64))
    n = len(xn)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    cents = [xn[int(rng.integers(n))]]
    # k-means++ init in O(k*n*d): `best` carries the max similarity to
    # any chosen centroid and is updated incrementally with ONLY the
    # newest centroid each round (recomputing against all existing
    # centroids would be O(k^2*n*d) — infeasible at the 65536-centroid
    # sizing default_n_centroids advertises for trillion-row corpora).
    best = xn @ cents[0]
    for _ in range(k - 1):
        gap = np.maximum(1.0 - best, 0.0)
        tot = float(gap.sum())
        if tot <= 0:  # all points already coincide with a centroid
            cents.append(xn[int(rng.integers(n))])
        else:
            cents.append(xn[int(rng.choice(n, p=gap / tot))])
        best = np.maximum(best, xn @ cents[-1])
    cmat = np.stack(cents)
    for _ in range(iters):
        assign = (xn @ cmat.T).argmax(axis=1)
        for j in range(k):
            members = xn[assign == j]
            if len(members):
                mean = members.mean(axis=0)
                norm = np.linalg.norm(mean)
                if norm > 0:
                    cmat[j] = mean / norm
    return cmat


def assign_lists(vecs: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Nearest-centroid list id per row (cosine = dot on unit-norm).
    Shared verbatim by the Spark builder's pandas UDF and the numpy twin
    builder, so the two layouts are assignment-identical."""
    return (_normalize(np.asarray(vecs, dtype=np.float64))
            @ centroids.T).argmax(axis=1).astype(np.int32)


def _write_sidecars(path: str, centroids: np.ndarray,
                    meta: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pa.table({
        "list_id": pa.array(range(len(centroids)), pa.int32()),
        "centroid": pa.array([row.tolist() for row in centroids],
                             pa.list_(pa.float64())),
    })
    pq.write_table(tbl, os.path.join(path, _IVF_CENTROID_FILE))
    with open(os.path.join(path, _IVF_META_FILE), "w") as f:
        json.dump(meta, f)


def read_ivf_meta(path: str) -> dict | None:
    p = os.path.join(path, _IVF_META_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def read_ivf_centroids(path: str) -> np.ndarray:
    import pyarrow.parquet as pq
    p = os.path.join(path, _IVF_CENTROID_FILE)
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"IVF index at {path} has no centroid sidecar — the build "
            f"was interrupted after the parquet commit. Delete the "
            f"directory and rebuild (build_ivf_index).")
    tbl = pq.read_table(p)
    order = np.argsort(tbl["list_id"].to_numpy())
    return np.stack(tbl["centroid"].to_numpy()[order])


def load_ivf_index(spark, path: str) -> tuple[DataFrame, np.ndarray,
                                              dict | None]:
    """(index rows, centroid matrix, build-parameter sidecar)."""
    return (spark.read.parquet(path), read_ivf_centroids(path),
            read_ivf_meta(path))


def train_centroids(corpus: DataFrame, n_centroids: int, *,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    seed: int = 11, sample_cap: int = 100_000,
                    n_rows: int | None = None) -> np.ndarray:
    """Coarse quantizer from a deterministic pushed-down sample:
    ``id % stride == 0`` reaches the parquet scan, so training a
    10^12-row corpus reads ~``sample_cap`` rows, not the corpus.
    Pass ``n_rows`` when the caller already counted — a second full
    count job at corpus scale is minutes of wasted wall."""
    n = corpus.count() if n_rows is None else n_rows
    target = max(sample_cap, n_centroids * 4)
    stride = max(1, n // target)
    sample = corpus.where(F.col(id_col) % stride == 0) \
        .select(vec_col).toPandas()
    if len(sample) < min(n, n_centroids):
        # the modulo sample assumes dense 0..n-1 integer ids; on a
        # sparse/offset id space it can come back (near-)empty or
        # systematically biased — fall back to a seeded row sample,
        # still pushed down as a scan-side filter
        frac = min(1.0, 1.25 * target / max(n, 1))
        sample = corpus.sample(fraction=frac, seed=seed) \
            .select(vec_col).toPandas()
    if not len(sample):
        raise ValueError(
            f"IVF quantizer training sample is empty (corpus rows={n}); "
            f"cannot train {n_centroids} centroids")
    mat = np.stack(sample[vec_col].to_numpy())
    return spherical_kmeans(mat, n_centroids, seed=seed)


def build_ivf_index(corpus: DataFrame, path: str, *,
                    n_centroids: int | None = None, seed: int = 11,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    list_partitions: int = 16,
                    sample_cap: int = 100_000) -> None:
    """Write-time IVF index: sample-trained quantizer, ONE distributed
    assignment pass (Arrow-batched pandas UDF over the broadcast
    centroid matrix — ≤32 MB even at 65536 lists), hive layout
    ``pt = list_id % list_partitions`` with ``list_id``-sorted files so
    probes prune partitions AND parquet row groups. Size
    ``list_partitions`` ~ cluster write parallelism (same capped-fan-out
    lesson as the LSH index: one directory per raw list drowns small
    scans in file listing)."""
    n_rows = corpus.count()
    if n_centroids is None:
        n_centroids = default_n_centroids(n_rows)
    cents = train_centroids(corpus, n_centroids, vec_col=vec_col,
                            id_col=id_col, seed=seed,
                            sample_cap=sample_cap, n_rows=n_rows)

    @F.pandas_udf("int")
    def nearest_list(v: pd.Series) -> pd.Series:
        return pd.Series(assign_lists(np.stack(v.to_numpy()), cents))

    # Store embeddings as array<double> so the Spark-built layout is
    # byte-identical to the numpy twin builder's (float->double widening
    # is exact) and the query-side cosine runs in one precision.
    rows = (corpus.select(id_col, F.col(vec_col).cast("array<double>")
                          .alias(vec_col))
            .withColumn("list_id", nearest_list(F.col(vec_col)))
            .withColumn("pt", F.pmod("list_id", F.lit(list_partitions))))
    rows.repartition("pt").sortWithinPartitions("list_id") \
        .write.partitionBy("pt").mode("overwrite").parquet(path)
    _write_sidecars(path, cents, {
        "n_centroids": int(len(cents)), "dim": int(cents.shape[1]),
        "seed": seed, "list_partitions": list_partitions})


def build_ivf_index_local(embeddings_parquet: str, path: str, *,
                          n_centroids: int | None = None, seed: int = 11,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          list_partitions: int = 16,
                          sample_cap: int = 100_000) -> None:
    """Numpy/pyarrow twin of ``build_ivf_index`` for oracle fixtures —
    lets the DuckDB side ensure the index exists without a
    SparkSession. Shares ``spherical_kmeans``/``assign_lists`` with the
    Spark builder, so either builder yields the same list assignment;
    correctness never depends on WHICH builder ran because query and
    oracle read the same stored files."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pq.read_table(embeddings_parquet, columns=[id_col, vec_col])
    ids = tbl[id_col].to_numpy()
    mat = np.stack(tbl[vec_col].to_numpy())
    if n_centroids is None:
        n_centroids = default_n_centroids(len(ids))
    stride = max(1, len(ids) // max(sample_cap, n_centroids * 4))
    train = mat[ids % stride == 0]
    if len(train) < min(len(ids), n_centroids):
        # sparse/offset ids defeat the modulo sample (see train_centroids)
        rng = np.random.default_rng(seed)
        take = min(len(ids), max(sample_cap, n_centroids * 4))
        train = mat[np.sort(rng.choice(len(ids), size=take,
                                       replace=False))]
    if not len(train):
        raise ValueError("IVF quantizer training sample is empty")
    cents = spherical_kmeans(train, n_centroids, seed=seed)
    lists = assign_lists(mat, cents)
    pts = lists % np.int32(list_partitions)
    for pt in range(list_partitions):
        mask = pts == pt
        if not mask.any():
            continue
        order = np.argsort(lists[mask], kind="stable")
        sub = pa.table({
            id_col: pa.array(ids[mask][order]),
            vec_col: pa.array([r.tolist() for r in mat[mask][order]],
                              pa.list_(pa.float64())),
            "list_id": pa.array(lists[mask][order], pa.int32()),
        })
        d = os.path.join(path, f"pt={pt}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(sub, os.path.join(d, "part-00000.parquet"))
    _write_sidecars(path, cents, {
        "n_centroids": int(len(cents)), "dim": int(cents.shape[1]),
        "seed": seed, "list_partitions": list_partitions})
    open(os.path.join(path, "_SUCCESS"), "w").close()


def ivf_probes(q_mat: np.ndarray, centroids: np.ndarray,
               nprobe: int) -> np.ndarray:
    """Top-``nprobe`` centroid lists per query (cos desc, list_id asc
    tie-break), driver-side numpy over the tiny centroid matrix. The
    similarity is quantized at 1e-6 before ordering so the DuckDB twin
    (which quantizes the same way) can't flip a probe choice on a
    last-ulp evaluation-order difference."""
    sims = np.round(
        _normalize(np.asarray(q_mat, dtype=np.float64)) @ centroids.T, 6)
    nprobe = min(nprobe, centroids.shape[0])
    lists = np.arange(centroids.shape[0])
    order = np.lexsort((np.broadcast_to(lists, sims.shape), -sims),
                       axis=1)
    return order[:, :nprobe]


def ivf_topk_indexed(index: DataFrame, queries: DataFrame, k: int, *,
                     nprobe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     centroids: np.ndarray | None = None,
                     list_partitions: int = 16, seed: int = 11,
                     meta: dict | None = None) -> DataFrame:
    """Approximate top-k over a STORED IVF index:

    1. probe selection driver-side (|queries| x n_centroids matmul —
       queries are the driver-bounded small side by contract),
    2. partition-pruned (pt literals) + row-group-pruned (list_id
       literals over sorted files) scan of the probed lists,
    3. broadcast probe/query-vector joins + pure-Catalyst cosine,
    4. ONE shuffle: the per-query rank window (no dedup stage — each
       vector lives in exactly one list).

    Pass ``meta`` (from ``load_ivf_index``) to validate the call against
    the build sidecar: a wrong ``list_partitions`` would silently prune
    away real candidate lists."""
    if centroids is None:
        raise ValueError("centroids required (from load_ivf_index)")
    if meta is not None:
        ours = {"n_centroids": int(len(centroids)),
                "dim": int(centroids.shape[1]), "seed": seed,
                "list_partitions": list_partitions}
        bad = {k_: (ours[k_], meta[k_]) for k_ in _IVF_META_KEYS
               if k_ in meta and meta[k_] != ours[k_]}
        if bad:
            raise ValueError(
                f"IVF index build parameters don't match the query's: "
                f"{bad} (call != index sidecar). Rebuild the index or "
                f"pass the sidecar values.")
    spark = index.sparkSession
    q_ids, q_mat = _collect_matrix(queries, query_id_col, vec_col)
    if not q_ids:  # empty query sets are legal: emit 0 results
        q_mat = np.zeros((0, centroids.shape[1]))
    probes = ivf_probes(q_mat, centroids, nprobe)
    probe_rows = sorted({(str(qid), int(li))
                         for qid, row in zip(q_ids, probes)
                         for li in row.tolist()})
    probe_df = local_frame(spark, probe_rows, StructType([
        StructField(query_id_col, StringType()),
        StructField("list_id", IntegerType())]))
    probe_lists = sorted({li for _, li in probe_rows})
    flt = (F.col("list_id").isin(probe_lists) if probe_lists
           else F.lit(False))
    if "pt" in index.columns and probe_lists:
        flt = F.col("pt").isin(
            sorted({li % list_partitions for li in probe_lists})) & flt
    qvec_df = _query_vectors(spark, q_ids, q_mat, query_id_col)
    # row norm hoisted below the probe join (one fold per scanned index
    # row, reused when several queries probe the same list); the query
    # side is unit-length from _collect_matrix, so the per-(query, row)
    # work is a single dot fold (see cos_prenormed_expr)
    scored = (index.where(flt)
              .withColumn("_cn", norm_expr(vec_col))
              .join(F.broadcast(probe_df), "list_id")
              .join(F.broadcast(qvec_df), query_id_col)
              .withColumn("cos", cos_prenormed_expr("_qv", vec_col,
                                                    "_cn")))
    return _rank_topk(scored, k, id_col=id_col,
                      query_id_col=query_id_col)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int, *,
             n_centroids: int | None = None, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", seed: int = 11,
             sample_cap: int = 100_000) -> DataFrame:
    """Index-free convenience path (tests/ad-hoc): trains the same
    quantizer, assigns the corpus on the fly with the same pandas UDF
    math, and restricts to the probed lists — result-identical to
    building then querying the stored index with the same parameters."""
    n_rows = corpus.count()
    if n_centroids is None:
        n_centroids = default_n_centroids(n_rows)
    cents = train_centroids(corpus, n_centroids, vec_col=vec_col,
                            id_col=id_col, seed=seed,
                            sample_cap=sample_cap, n_rows=n_rows)

    @F.pandas_udf("int")
    def nearest_list(v: pd.Series) -> pd.Series:
        return pd.Series(assign_lists(np.stack(v.to_numpy()), cents))

    index = corpus.select(id_col, vec_col).withColumn(
        "list_id", nearest_list(F.col(vec_col)))
    return ivf_topk_indexed(index, queries, k, nprobe=nprobe,
                            id_col=id_col, vec_col=vec_col,
                            query_id_col=query_id_col,
                            centroids=cents, seed=seed)
