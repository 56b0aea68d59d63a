"""Approximate-nearest-neighbor search over an ``array<float>`` embedding
column.

Two paths, per the task brief:
- ``cosine_topk`` — exact brute-force baseline. Queries are broadcast as a
  numpy matrix; each Arrow batch of the corpus computes a blocked matmul
  and emits only its LOCAL top-k per query (the per-batch prune bounds the
  shuffle at n_queries * k * n_batches rows, not n_queries * corpus), then
  one window rank finalizes. This is the partial-aggregate shape of the
  reference's server-side iterators (AggregatingScan) applied to top-k.
- ``lsh_signatures`` / ``lsh_topk`` — random-hyperplane (SimHash-for-
  vectors) bucketing: sign bits of dot(v, plane) pack into an int bucket;
  candidates share a bucket (multi-probe: optionally also buckets at
  hamming distance 1); exact cosine ranks the candidates. At 100 TB the
  bucket column becomes the partition key, turning ANN into a pruned scan —
  the same cover->prune->refine shape as the spatial cell index.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from geomesa_spark.plans.planner import local_frame


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    rows = df.select(id_col, vec_col).collect()
    if not rows:  # empty query sets are legal: callers emit 0 results
        return [], np.zeros((0, 0))
    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return ids, mat / norms[:, None]


def _query_vectors(spark, q_ids: list, q_mat: np.ndarray,
                   query_id_col: str) -> DataFrame:
    """(query id, ``_qv`` unit vector) rows of a collected query set."""
    return local_frame(spark, [(str(q), v) for q, v in
                               zip(q_ids, q_mat.tolist())], StructType([
        StructField(query_id_col, StringType()),
        StructField("_qv", ArrayType(DoubleType()))]))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int, *,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k by cosine similarity for every query vector.

    Output: (query_id, rank, vec_id, cos) with rank 1..k, ties broken by
    vec_id ascending (deterministic)."""
    q_ids, q_mat = _collect_matrix(queries, query_id_col, vec_col)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat))
    # derive the id field's type from the corpus: the routed job surface
    # (`jobs/ann_query.py --id-col`) supports string ids, which a
    # hardcoded long here would crash in the Arrow batch conversion
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{query_id_col} string, {id_col} {id_type}, cos double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bq.value
        if not len(ids):
            return
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            nrm = np.linalg.norm(cm, axis=1)
            nrm[nrm == 0] = 1.0
            sims = (cm / nrm[:, None]) @ qm.T  # (batch, nq)
            vids = pdf[id_col].to_numpy()
            frames = []
            kk = min(k, sims.shape[0])
            for j, qid in enumerate(ids):
                col = sims[:, j]
                # local top-k prune on the QUANTIZED cosine (same 1e-6
                # key as the final rank window, so the prune can never
                # drop a row the rounded global order would keep)
                part = np.lexsort((vids, -np.round(col, 6)))[:kk]
                frames.append(pd.DataFrame({
                    query_id_col: str(qid),
                    id_col: vids[part],
                    "cos": col[part]}))
            yield pd.concat(frames, ignore_index=True)

    partial = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    # rank on the 1e-6-quantized cosine (+ id tie-break): near-tied
    # cosines whose raw order depends on floating-point evaluation order
    # rank identically here and in any SQL twin that quantizes the same
    # way — last-ulp engine differences can't swap ranks
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(F.round(F.col("cos"), 6)), F.col(id_col))
    return (partial.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, "rank", id_col,
                    F.round(F.col("cos"), 6).alias("cos")))


def lsh_signatures(df: DataFrame, *, n_planes: int = 16, dim: int = 64,
                   seed: int = 11, vec_col: str = "embedding",
                   out: str = "bucket", n_tables: int = 1) -> DataFrame:
    """Random-hyperplane bucket ids (packed sign bits).

    With ``n_tables > 1``, emits an array of per-table buckets (table index
    folded into the bucket value so tables never collide with each other);
    with 1 table, a plain long column."""
    planes = np.random.default_rng(seed).standard_normal(
        (n_tables, dim, n_planes))
    bp = df.sparkSession.sparkContext.broadcast(planes)

    @F.pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        mat = np.array(list(v), dtype=np.float64)
        pl = bp.value
        weights = (1 << np.arange(pl.shape[2], dtype=np.int64))
        cols = []
        for t in range(pl.shape[0]):
            bits = (mat @ pl[t]) > 0
            cols.append(bits @ weights + (t << np.int64(pl.shape[2] + 1)))
        return pd.Series(np.stack(cols, axis=1).tolist())

    d = df.withColumn("_bks", buckets(F.col(vec_col)))
    if n_tables == 1:
        return d.withColumn(out, F.element_at("_bks", 1)).drop("_bks")
    return d.withColumnRenamed("_bks", out)


def cos_expr(a, b):
    """Pairwise cosine of two array<double> columns in PURE Catalyst
    (zip_with product + aggregate fold — JVM-side, no Python round-trip).
    Zero-norm rows score 0."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    nb = F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v)
    denom = F.sqrt(na) * F.sqrt(nb)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot / denom)


def norm_expr(v):
    """Euclidean norm of an array<double> column (one aggregate fold)."""
    v = F.col(v) if isinstance(v, str) else v
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def cos_prenormed_expr(q_unit, v, v_norm):
    """Cosine when the query side is ALREADY unit-length and the other
    side's norm is a precomputed column: one dot fold per row instead of
    cos_expr's three (dot + two norms). Catalyst higher-order functions
    are interpreted per element, so at millions of candidate rows the
    two redundant folds are the measured wall — hoist the corpus norm to
    one eval per corpus row and skip the query norm entirely (the
    driver-side _collect_matrix normalization makes it 1.0)."""
    q_unit = F.col(q_unit) if isinstance(q_unit, str) else q_unit
    v = F.col(v) if isinstance(v, str) else v
    v_norm = F.col(v_norm) if isinstance(v_norm, str) else v_norm
    dot = F.aggregate(F.zip_with(q_unit, v, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return F.when(v_norm == 0.0, F.lit(0.0)).otherwise(dot / v_norm)


def _probe_masks(n_planes: int, multiprobe: int) -> list[int]:
    """Sign-bit flip masks for buckets within hamming ``multiprobe``."""
    masks: list[int] = [0]
    if multiprobe >= 1:
        masks += [1 << b for b in range(n_planes)]
    if multiprobe >= 2:
        masks += [(1 << b1) | (1 << b2)
                  for b1 in range(n_planes)
                  for b2 in range(b1 + 1, n_planes)]
    return masks


def lsh_query_probes(queries: DataFrame, *, n_planes: int = 6,
                     n_tables: int = 8, dim: int = 64, seed: int = 11,
                     vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     multiprobe: int = 1) -> DataFrame:
    """(query_id, query vector, probed bucket) — one row per (query,
    table, hamming-``multiprobe`` flip). Queries are the tiny side: extra
    probes cost query-side rows only, never corpus scans."""
    sig_q = lsh_signatures(queries, n_planes=n_planes, dim=dim, seed=seed,
                           vec_col=vec_col, n_tables=n_tables)
    if n_tables > 1:
        sig_q = sig_q.withColumn("bucket", F.explode("bucket"))
    if multiprobe:
        probes = F.array(*[F.col("bucket").bitwiseXOR(F.lit(m))
                           for m in _probe_masks(n_planes, multiprobe)])
        sig_q = sig_q.withColumn("bucket", F.explode(probes))
    return sig_q.select(F.col(query_id_col), F.col(vec_col).alias("_qv"),
                        F.col("bucket").alias("_bk"))


def _rank_topk(scored: DataFrame, k: int, *, id_col: str,
               query_id_col: str) -> DataFrame:
    # quantized ordering key (see cosine_topk): rank-stable across
    # engines whose float evaluation orders differ in the last ulp
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(F.round(F.col("cos"), 6)), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, "rank", id_col,
                    F.round(F.col("cos"), 6).alias("cos")))


def default_n_planes(n_rows: int, *, target_bucket_rows: int = 24,
                     lo: int = 4, hi: int = 16) -> int:
    """Size the hyperplane count so per-table bucket occupancy stays
    ~``target_bucket_rows`` regardless of corpus size: 2^p buckets for
    n rows → p = log2(n / target). A FIXED p does not survive scale-up —
    at 100x the rows every probe returns 100x the candidates and LSH
    degenerates into brute force (measured: the sf0.5 fixture at p=6
    probes every bucket). The build records p in the sidecar, so queries
    follow the index, not a constant."""
    import math
    if n_rows <= 0:
        return lo
    return max(lo, min(hi, round(math.log2(max(n_rows, 1)
                                           / float(target_bucket_rows)))))


_LSH_META_FILE = "_lsh_meta.json"
_LSH_META_KEYS = ("n_planes", "n_tables", "dim", "seed",
                  "bucket_partitions")


def _write_lsh_meta(path: str, meta: dict) -> None:
    import json
    import os
    with open(os.path.join(path, _LSH_META_FILE), "w") as f:
        json.dump(meta, f)


def read_lsh_meta(path: str) -> dict | None:
    """Build parameters persisted next to the index parquet (None for a
    pre-sidecar index)."""
    import json
    import os
    p = os.path.join(path, _LSH_META_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def load_lsh_index(spark, path: str) -> tuple[DataFrame, dict | None]:
    """Open a stored LSH index with its build-parameter sidecar."""
    return spark.read.parquet(path), read_lsh_meta(path)


def compute_probe_rows(q_ids, q_mat_unit: np.ndarray, *,
                       n_planes: int, n_tables: int, dim: int,
                       seed: int, multiprobe: int) -> set[tuple[str, int]]:
    """Driver-side probe expansion: the set of (query_id, probed bucket)
    pairs for a UNIT-NORMALIZED query matrix (``_collect_matrix``'s
    output convention). The SINGLE source of truth shared by
    ``lsh_topk_indexed`` and the DuckDB oracle's probe-sidecar writer —
    both must expand the identical buckets or the oracle checks a
    different candidate set than the engine scanned."""
    planes = np.random.default_rng(seed).standard_normal(
        (n_tables, dim, n_planes))
    weights = (1 << np.arange(n_planes, dtype=np.int64))
    masks = np.asarray(_probe_masks(n_planes, multiprobe), dtype=np.int64)
    probe_rows: set[tuple[str, int]] = set()
    for t in range(n_tables):
        bks = ((q_mat_unit @ planes[t]) > 0) @ weights \
            + (t << np.int64(n_planes + 1))
        for qid, bk in zip(q_ids, bks.tolist()):
            probe_rows.update((str(qid), int(bk ^ m))
                              for m in masks.tolist())
    return probe_rows


def build_lsh_index_local(embeddings_parquet: str, path: str, *,
                          n_planes: int | None = None, n_tables: int = 8,
                          dim: int = 64, seed: int = 11,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          bucket_partitions: int = 64) -> None:
    """Numpy/pyarrow twin of ``build_lsh_index`` for oracle fixtures —
    lets the DuckDB side materialize the index without a SparkSession
    (the same role as ``ml/ivf.py:build_ivf_index_local``). The
    signature kernel is the identical numpy expression the pandas UDF
    runs (raw — NOT normalized — vectors through the seeded planes), so
    either builder yields bit-identical (vec_id, bk) rows; correctness
    never depends on which builder ran because query and oracle read
    the same stored files. ``n_planes=None`` sizes to the corpus via
    ``default_n_planes`` exactly like the ingest path. The index is
    built in a sibling directory and renamed over ``path``, so no file
    of an earlier build (another plane count, a Spark build) survives
    into it."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pq.read_table(embeddings_parquet, columns=[id_col, vec_col])
    ids = tbl[id_col].to_numpy()
    mat = np.stack(tbl[vec_col].to_numpy()).astype(np.float64)
    if n_planes is None:
        n_planes = default_n_planes(len(ids))
    planes = np.random.default_rng(seed).standard_normal(
        (n_tables, dim, n_planes))
    weights = (1 << np.arange(n_planes, dtype=np.int64))
    all_ids = np.tile(ids, n_tables)
    all_bks = np.concatenate([
        ((mat @ planes[t]) > 0) @ weights + (t << np.int64(n_planes + 1))
        for t in range(n_tables)])
    pts = all_bks % np.int64(bucket_partitions)
    tmp = f"{os.path.normpath(path)}.building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for pt in range(bucket_partitions):
        mask = pts == pt
        if not mask.any():
            continue
        order = np.argsort(all_bks[mask], kind="stable")
        sub = pa.table({
            id_col: pa.array(all_ids[mask][order]),
            "bk": pa.array(all_bks[mask][order], pa.int64()),
        })
        d = os.path.join(tmp, f"pt={pt}")
        os.makedirs(d)
        pq.write_table(sub, os.path.join(d, "part-00000.parquet"))
    _write_lsh_meta(tmp, {"n_planes": int(n_planes),
                          "n_tables": n_tables, "dim": dim,
                          "seed": seed,
                          "bucket_partitions": bucket_partitions})
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def build_lsh_index(corpus: DataFrame, path: str, *,
                    n_planes: int = 6, n_tables: int = 8, dim: int = 64,
                    seed: int = 11, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    bucket_partitions: int = 64) -> None:
    """Write-time LSH signature index (the toIndexKey analog for ANN):
    one stored row per (table-folded bucket, vector id) — the signature
    computation and the corpus x n_tables expansion happen ONCE at
    ingest, never per query.

    Layout: hive-partitioned by ``pt = bk % bucket_partitions`` and
    SORTED by ``bk`` within each partition, so a query prunes partitions
    on pt and row groups on the stored bk min/max. Partitioning by the
    raw bucket (n_tables * 2^n_planes directories — 512 at the defaults,
    millions at the n_planes a 10^12-vector corpus needs) drowns small
    scans in file-listing + task overhead; the capped pt fan-out keeps
    directory count fixed while bk ordering preserves the selectivity.
    Size ``bucket_partitions`` ~ cluster write parallelism."""
    sig = lsh_signatures(corpus, n_planes=n_planes, dim=dim, seed=seed,
                         vec_col=vec_col, n_tables=n_tables, out="bucket")
    if n_tables > 1:
        rows = sig.select(F.col(id_col), F.explode("bucket").alias("bk"))
    else:
        rows = sig.select(F.col(id_col), F.col("bucket").alias("bk"))
    rows = rows.withColumn("pt", F.pmod("bk", F.lit(bucket_partitions)))
    # one writer task per pt directory -> one compact bk-sorted file each
    rows.repartition("pt").sortWithinPartitions("bk") \
        .write.partitionBy("pt").mode("overwrite").parquet(path)
    # persist the build parameters so a query can't silently probe with a
    # mismatched modulus/plane set (the pt filter would drop real
    # candidate buckets); lsh_topk_indexed validates against this
    _write_lsh_meta(path, {"n_planes": n_planes, "n_tables": n_tables,
                           "dim": dim, "seed": seed,
                           "bucket_partitions": bucket_partitions})


def lsh_topk_indexed(index: DataFrame, corpus: DataFrame,
                     queries: DataFrame, k: int, *,
                     n_planes: int = 6, n_tables: int = 8, dim: int = 64,
                     seed: int = 11, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     multiprobe: int = 1,
                     bucket_partitions: int = 64,
                     meta: dict | None = None) -> DataFrame:
    """Approximate top-k over a STORED bucket-partitioned signature index
    (``build_lsh_index``) — the scale path:

    1. query signatures + multi-probe expansion (tiny, driver-bounded:
       |queries| x n_tables x n_masks bucket literals, deduped driver-side
       — no shuffle),
    2. partition-pruned scan of the index restricted to the probed
       buckets (no corpus-wide signature recompute, no corpus explode),
    3. candidate (query, id) pairs join back to the corpus by id
       (duplicates across tables ride along — recomputing a Catalyst
       cosine on a ≤ n_tables-duplicated candidate is cheaper than an
       extra dedup shuffle),
    4. ONE shuffle on query_id: repartition, then the (query, id) dedup
       agg AND the rank window both reuse that partitioning
       (HashPartitioning(q) satisfies both clustered distributions).

    The index must have been built with the same (n_planes, n_tables,
    dim, seed, bucket_partitions). Pass ``meta`` (from
    ``load_lsh_index``/``read_lsh_meta``) to validate instead of trusting
    the call-site: mismatched parameters raise rather than silently
    dropping candidate buckets via a wrong pt modulus."""
    if meta is not None:
        ours = {"n_planes": n_planes, "n_tables": n_tables, "dim": dim,
                "seed": seed, "bucket_partitions": bucket_partitions}
        bad = {k_: (ours[k_], meta[k_]) for k_ in _LSH_META_KEYS
               if k_ in meta and meta[k_] != ours[k_]}
        if bad:
            raise ValueError(
                f"LSH index build parameters don't match the query's: "
                f"{bad} (call != index sidecar). Rebuild the index or "
                f"pass the sidecar values.")
    spark = index.sparkSession
    # queries are the driver-bounded small side by contract (like a kNN
    # query set): signatures + probe expansion run in local numpy — the
    # SAME plane matrix as lsh_signatures — so the distributed plan has
    # zero Python evals (the cosine is pure Catalyst)
    q_ids, q_mat = _collect_matrix(queries, query_id_col, vec_col)
    if not q_ids:
        q_mat = np.zeros((0, dim))
    probe_rows = compute_probe_rows(q_ids, q_mat, n_planes=n_planes,
                                    n_tables=n_tables, dim=dim, seed=seed,
                                    multiprobe=multiprobe)
    probe_df = local_frame(spark, sorted(probe_rows), StructType([
        StructField(query_id_col, StringType()),
        StructField("bk", LongType())]))
    probe_vals = sorted({bk for _, bk in probe_rows})
    # pt literals prune partitions; bk literals push down to parquet
    # row-group stats (files are bk-sorted at build). Old-layout indexes
    # (partitioned by raw bk) prune directly on the bk filter.
    flt = (F.col("bk").isin(probe_vals) if probe_vals
           else F.lit(False))  # empty query set probes nothing
    if "pt" in index.columns and probe_vals:  # capped layout: must match
        flt = F.col("pt").isin(               # the build's partitions
            sorted({int(bk) % bucket_partitions
                    for bk in probe_vals})) & flt
    cand_ids = (index.where(flt)
                .join(F.broadcast(probe_df), "bk")
                .select(query_id_col, id_col))
    # no broadcast hint: AQE picks the build side from runtime sizes —
    # at 10^12 vectors the pruned candidate set is the small side; on a
    # dense small fixture (probes covering most buckets) the corpus is.
    # The corpus norm is hoisted BELOW the join (one fold per corpus row,
    # not per candidate) and the query side is unit-length from
    # _collect_matrix, so scoring is ONE interpreted dot fold per
    # candidate instead of cos_expr's three — the measured wall at a
    # probe set covering most buckets (3.8M candidates at the SF=1
    # fixture: 18.6 -> ~8 s).
    cvecs = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv"),
                          norm_expr(vec_col).alias("_cn")) \
        .join(cand_ids, id_col)
    qvec_df = _query_vectors(spark, q_ids, q_mat, query_id_col)
    scored = cvecs.join(F.broadcast(qvec_df), query_id_col) \
        .withColumn("cos", cos_prenormed_expr("_qv", "_cv", "_cn"))
    # single-shuffle finale: hash(q) partitioning satisfies the (q, id)
    # dedup agg's ClusteredDistribution([q, id]) and the window's
    # ClusteredDistribution([q]) — Catalyst inserts no further exchange
    deduped = (scored.repartition(query_id_col)
               .groupBy(query_id_col, id_col)
               .agg(F.max("cos").alias("cos")))
    return _rank_topk(deduped, k, id_col=id_col, query_id_col=query_id_col)


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int, *,
             n_planes: int = 6, n_tables: int = 8, dim: int = 64,
             seed: int = 11, id_col: str = "vec_id",
             vec_col: str = "embedding", query_id_col: str = "query_id",
             multiprobe: int = 1) -> DataFrame:
    """Approximate top-k WITHOUT a stored index — the ad-hoc path: corpus
    signatures are computed inline and the corpus is exploded x n_tables
    through the bucket join, so cost is O(corpus x n_tables) PER CALL.
    Use ``build_lsh_index`` + ``lsh_topk_indexed`` for repeated queries
    or any corpus that doesn't trivially rescan (the 100 TB shape).

    Multi-table LSH: for bit-match probability p per plane, recall of a
    neighbor is 1-(1-p^b)^L — tuned by (n_planes, n_tables). Recall vs
    the exact baseline is property-tested, not asserted exact."""
    sig_c = lsh_signatures(corpus, n_planes=n_planes, dim=dim, seed=seed,
                           vec_col=vec_col, n_tables=n_tables)
    bucket_c = F.explode("bucket").alias("_bk") if n_tables > 1 \
        else F.col("bucket").alias("_bk")
    c = sig_c.select(F.col(id_col), F.col(vec_col).alias("_cv"), bucket_c)
    q = lsh_query_probes(
        queries, n_planes=n_planes, n_tables=n_tables, dim=dim, seed=seed,
        vec_col=vec_col, query_id_col=query_id_col, multiprobe=multiprobe)
    cand = q.join(c, "_bk").drop("_bk") \
        .dropDuplicates([query_id_col, id_col])
    scored = cand.withColumn("cos", cos_expr("_qv", "_cv"))
    return _rank_topk(scored, k, id_col=id_col, query_id_col=query_id_col)


def block_pair_near_dup(df: DataFrame, *, threshold: float = 0.9,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_blocks: int = 8) -> DataFrame:
    """EXACT all-pairs cosine near-dup via distributed block-matrix join —
    no driver-side collect, the scale-safe exact path.

    Rows hash into ``n_blocks`` blocks; each row is replicated to every
    block PAIR it participates in (side a for pairs (own, j>=own), side b
    for (i<own, own)), then one ``applyInPandas`` per block pair runs the
    vectorized matmul between the two sides. Shuffle volume is
    O(n * n_blocks) rows and per-group memory is O((n/n_blocks) * dim) —
    both tunable — while the O(n^2) similarity flops stay inside numpy.
    The same partial-compute shape as the reference's server-side
    AggregatingScan iterators (/root/reference/geomesa-index-api/src/main/
    scala/org/locationtech/geomesa/index/iterators/AggregatingScan.scala)."""
    out_schema = "a long, b long, cos double"

    empty = pd.DataFrame({"a": pd.Series(dtype="int64"),
                          "b": pd.Series(dtype="int64"),
                          "cos": pd.Series(dtype="float64")})

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["_side"] == 0]
        if not len(left):  # the a-side hash block had no rows
            return empty.copy()
        lm = np.array(list(left["_v"]), dtype=np.float64)
        ln = np.linalg.norm(lm, axis=1)
        ln[ln == 0] = 1.0
        lm = lm / ln[:, None]
        lid = left["_id"].to_numpy()
        if int(pdf["bi"].iloc[0]) == int(pdf["bj"].iloc[0]):
            sims = lm @ lm.T
            ii, jj = np.nonzero(np.triu(sims >= threshold, k=1))
            rid, rsims = lid, sims
        else:
            right = pdf[pdf["_side"] == 1]
            if not len(right):
                return empty.copy()
            rm = np.array(list(right["_v"]), dtype=np.float64)
            rn = np.linalg.norm(rm, axis=1)
            rn[rn == 0] = 1.0
            rm = rm / rn[:, None]
            rid = right["_id"].to_numpy()
            rsims = lm @ rm.T
            ii, jj = np.nonzero(rsims >= threshold)
            sims = rsims
        if not len(ii):
            return empty.copy()
        a_ids, b_ids = lid[ii], rid[jj]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        keep = lo != hi
        return pd.DataFrame({"a": lo[keep], "b": hi[keep],
                             "cos": sims[ii, jj][keep]})

    d = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")) \
        .withColumn("_blk", F.pmod(F.xxhash64("_id"), F.lit(n_blocks))
                    .cast("int"))
    as_a = d.select(
        "_id", "_v", F.col("_blk").alias("bi"),
        F.explode(F.sequence(F.col("_blk"), F.lit(n_blocks - 1)))
        .alias("bj"), F.lit(0).alias("_side"))
    as_b = d.select(
        "_id", "_v",
        F.explode(F.sequence(F.lit(0), F.col("_blk") - 1)).alias("bi"),
        F.col("_blk").alias("bj"), F.lit(1).alias("_side"))
    # rows with _blk == 0 make sequence(0, -1) -> as_b contributes nothing
    un = as_a.unionByName(as_b)
    pairs = un.groupBy("bi", "bj").applyInPandas(score_group, out_schema)
    return pairs.select("a", "b", F.round("cos", 6).alias("cos"))


def embedding_near_dup_pairs(df: DataFrame, *, threshold: float = 0.9,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             n_planes: int = 8, dim: int = 64,
                             seed: int = 11, n_blocks: int = 8,
                             method: str = "block",
                             exact: bool | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos >= threshold).

    ``method``:
    - ``"block"`` (default) — exact distributed block-matrix join
      (``block_pair_near_dup``): no driver collect, scale-safe.
    - ``"broadcast"`` — exact via corpus collect + broadcast matmul; the
      small-fixture pytest oracle ONLY (driver collect does not scale).
    - ``"lsh"`` — approximate: shared-LSH-bucket candidates first; the
      cheapest path when near-miss recall is acceptable.
    ``exact`` (legacy flag): True -> broadcast, False -> lsh."""
    if exact is not None:
        method = "broadcast" if exact else "lsh"
    if method == "block":
        return block_pair_near_dup(df, threshold=threshold, id_col=id_col,
                                   vec_col=vec_col, n_blocks=n_blocks)
    if method == "broadcast":
        ids, mat = _collect_matrix(df, id_col, vec_col)
        b = df.sparkSession.sparkContext.broadcast((ids, mat))
        schema = "a long, b long, cos double"

        def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            all_ids, all_mat = b.value
            aid = np.array(all_ids)
            for pdf in batches:
                if not len(pdf):
                    continue
                cm = np.array(list(pdf[vec_col]), dtype=np.float64)
                nrm = np.linalg.norm(cm, axis=1)
                nrm[nrm == 0] = 1.0
                sims = (cm / nrm[:, None]) @ all_mat.T
                vids = pdf[id_col].to_numpy()
                ii, jj = np.nonzero(sims >= threshold)
                keep = vids[ii] < aid[jj]
                if keep.any():
                    yield pd.DataFrame({"a": vids[ii][keep],
                                        "b": aid[jj][keep],
                                        "cos": sims[ii, jj][keep]})

        out = df.select(id_col, vec_col).mapInPandas(pairs, schema)
        return out.select("a", "b", F.round("cos", 6).alias("cos"))

    sig = lsh_signatures(df, n_planes=n_planes, dim=dim, seed=seed,
                         vec_col=vec_col)
    left = sig.select(F.col(id_col).alias("a"),
                      F.col(vec_col).alias("_va"), "bucket")
    right = sig.select(F.col(id_col).alias("b"),
                       F.col(vec_col).alias("_vb"), "bucket")
    cand = left.join(right, "bucket").where(F.col("a") < F.col("b")) \
        .dropDuplicates(["a", "b"])

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.array(list(a), dtype=np.float64)
        mb = np.array(list(b), dtype=np.float64)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        d = na * nb
        d[d == 0] = 1.0
        return pd.Series((ma * mb).sum(axis=1) / d)

    return (cand.withColumn("cos", cos("_va", "_vb"))
            .where(F.col("cos") >= threshold)
            .select("a", "b", F.round("cos", 6).alias("cos")))
