"""Cost-based ANN strategy routing: exact vs LSH vs IVF.

The engine carries three ANN paths (`ml/similarity.py` exact
`cosine_topk`, stored-index `lsh_topk_indexed`, `ml/ivf.py`
`ivf_topk_indexed`); this module picks between them the way the
reference's StrategyDecider picks a spatial/attribute/id primary
(/root/reference/geomesa-index-api/src/main/scala/org/locationtech/
geomesa/index/planning/StrategyDecider.scala:79-191 — re-derived, not
ported): every available path proposes a cost = estimated work x a
fixed path multiplier, cheapest wins, and a wrong estimate can only
cost time, never correctness (all three paths return a valid top-k;
the approximate ones trade recall, which the caller opted into by
building an index).

Cost model (units: seconds on the calibration host; only the RELATIVE
ordering matters, like the reference's fixed 1.2x spatial multiplier):

    cost(path) = OVERHEAD(path) + candidate_rows(path) * PER_ROW(path)

- ``candidate_rows`` is the number of (query, candidate) pairs the
  path scores: ``q * n`` for exact, bucket-occupancy estimates from
  the index SIDECARS for LSH/IVF (n_planes/n_tables resp. n_centroids
  — the same stats discipline as the reference's cached GeoMesaStats).
  Index estimates are capped at ``q * n``: a probe set covering every
  bucket (the small-corpus multiprobe regime BASELINE.md documents)
  degenerates to a full scan plus join overhead, and the cap makes the
  decider route that regime to exact automatically.
- ``PER_ROW``: the exact path scores rows in blocked BLAS matmuls
  (mapInPandas); the index paths pay a Catalyst cosine plus
  prune/join/dedup machinery per surviving row — measured ~15-30x the
  BLAS row-score across the recorded fixtures (exact ~1.4e-7 to
  5.7e-7 s/row-score between SF pairs, growing with working-set size;
  LSH/IVF ~4-5e-6 s/candidate-row, stable).
- ``OVERHEAD``: fixed plan latency (index scan setup, broadcast
  joins, the rank-window shuffle) — the reason brute force wins every
  corpus small enough to ride one Arrow batch per core.

Calibration evidence (min-of-3, local[32]; BENCH_LOCAL /
BENCH_SF05_LOCAL / BENCH_SF1_LOCAL):

    shape (n, q)        exact   IVF    LSH    measured winner
    sf0.1 (2k, 40)      0.69    1.40   2.78   exact
    sf0.5 (10k, 200)    0.94    1.75   7.46   exact
    sf1.0 (20k, 400)    4.37    2.42  16.95   IVF   <- crossover

The constants below reproduce all three orderings INCLUDING the
measured exact→IVF crossover at the SF=1.0 shape (the first fixture
where the pruned scan's row savings beat brute force's lower per-row
cost); LSH joins the party at larger n where its per-query candidate
fraction keeps shrinking.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from geomesa_spark.ml.similarity import _probe_masks

# calibrated on this host (see module docstring); relative order is the
# contract, absolute seconds are incidental. EXACT_PER_ROW sits at the
# top of its measured 1.4e-7..5.7e-7 band: under-pricing brute force
# would mis-route large corpora to it (the expensive mistake at scale),
# while over-pricing merely sends a small corpus to a still-correct
# index scan a constant factor early.
EXACT_OVERHEAD_S = 0.7
LSH_OVERHEAD_S = 2.0
IVF_OVERHEAD_S = 1.4
EXACT_PER_ROW_S = 3.0e-7   # blocked BLAS row-score
# Catalyst cosine + prune/join per candidate. Re-calibrated after the
# norm hoist (cos_prenormed_expr: one dot fold per candidate instead of
# three): lsh_topk at SF=1.0 scored 3.84M candidates in 9.98 s wall
# ~= 2.6e-6 s/row all-in. Every documented ordering (fixtures -> exact,
# SF=1.0 -> IVF, 10^8 -> LSH) is preserved; the exact->index crossover
# just moves slightly earlier, matching the faster index paths.
INDEX_PER_ROW_S = 2.6e-6


@dataclass
class AnnStrategy:
    kind: str          # "exact" | "lsh" | "ivf"
    cost: float        # modeled seconds (relative ordering only)
    candidates: int    # estimated scored (query, candidate) rows
    reason: str        # human-readable decision trace


def lsh_candidates(n_rows: int, n_queries: int, *, n_planes: int,
                   n_tables: int, multiprobe: int = 1) -> int:
    """Estimated scored rows for the stored-LSH path: each query probes
    ``n_masks`` buckets in each of ``n_tables`` tables; a table holds
    ``n_rows`` rows spread over ``2^n_planes`` buckets. Capped at a
    full scan per query — more probes than buckets is the degenerate
    all-bucket regime."""
    n_masks = len(_probe_masks(n_planes, multiprobe))
    per_table = min(n_masks, 2 ** n_planes) * n_rows / 2 ** n_planes
    return int(min(n_queries * n_tables * per_table,
                   n_queries * n_rows))


def ivf_candidates(n_rows: int, n_queries: int, *, n_centroids: int,
                   nprobe: int = 4) -> int:
    """Estimated scored rows for the stored-IVF path: ``nprobe`` of
    ``n_centroids`` lists per query, each list ~``n_rows/n_centroids``
    rows (each vector lives in exactly one list)."""
    nprobe = min(nprobe, max(n_centroids, 1))
    return int(min(n_queries * nprobe * n_rows / max(n_centroids, 1),
                   n_queries * n_rows))


def decide_ann(n_rows: int, n_queries: int, *,
               lsh_meta: dict | None = None,
               ivf_meta: dict | None = None,
               multiprobe: int = 1, nprobe: int = 4) -> AnnStrategy:
    """Pick the cheapest ANN path for a (corpus, query-set) shape.

    ``lsh_meta``/``ivf_meta`` are the build-parameter sidecars
    (`read_lsh_meta`/`read_ivf_meta`) — a path without its sidecar is
    not proposed (no index, or an interrupted build). Exact is always
    available."""
    q = max(n_queries, 0)
    n = max(n_rows, 0)
    exact_rows = q * n
    cands = [AnnStrategy(
        "exact", EXACT_OVERHEAD_S + exact_rows * EXACT_PER_ROW_S,
        exact_rows, f"full scan: {exact_rows} BLAS row-scores")]
    if lsh_meta is not None:
        rows = lsh_candidates(n, q, n_planes=lsh_meta["n_planes"],
                              n_tables=lsh_meta["n_tables"],
                              multiprobe=multiprobe)
        frac = rows / exact_rows if exact_rows else 0.0
        cands.append(AnnStrategy(
            "lsh", LSH_OVERHEAD_S + rows * INDEX_PER_ROW_S, rows,
            f"probed buckets ~{rows} candidate rows "
            f"({frac:.1%} of exhaustive)"))
    if ivf_meta is not None:
        rows = ivf_candidates(n, q, n_centroids=ivf_meta["n_centroids"],
                              nprobe=nprobe)
        frac = rows / exact_rows if exact_rows else 0.0
        cands.append(AnnStrategy(
            "ivf", IVF_OVERHEAD_S + rows * INDEX_PER_ROW_S, rows,
            f"{nprobe} probed lists ~{rows} candidate rows "
            f"({frac:.1%} of exhaustive)"))
    # ties prefer exact: recall 1.0 at equal modeled cost
    order = {"exact": 0, "ivf": 1, "lsh": 2}
    return min(cands, key=lambda s: (s.cost, order[s.kind]))


def ann_topk_routed(corpus: DataFrame, queries: DataFrame, k: int, *,
                    lsh: tuple[DataFrame, dict] | None = None,
                    ivf: tuple[DataFrame, "object", dict] | None = None,
                    multiprobe: int = 1, nprobe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    n_rows: int | None = None,
                    n_queries: int | None = None) -> DataFrame:
    """Routed ANN entry point: decide, then dispatch to the chosen
    path. ``lsh`` is ``load_lsh_index(...)``'s (index, meta); ``ivf``
    is ``load_ivf_index(...)``'s (index, centroids, meta). Pass
    ``n_rows``/``n_queries`` when already counted (a count job at
    corpus scale is wasted wall; the reference reads the same numbers
    from cached stats).

    The decision is also exposed on the returned DataFrame's plan via
    ``decide_ann`` — call it directly to inspect/assert routing."""
    if n_rows is None:
        n_rows = corpus.count()
    if n_queries is None:
        n_queries = queries.count()
    s = decide_ann(n_rows, n_queries,
                   lsh_meta=lsh[1] if lsh else None,
                   ivf_meta=ivf[2] if ivf else None,
                   multiprobe=multiprobe, nprobe=nprobe)
    if s.kind == "lsh":
        from geomesa_spark.ml.similarity import lsh_topk_indexed
        index, meta = lsh
        return lsh_topk_indexed(
            index, corpus, queries, k, n_planes=meta["n_planes"],
            n_tables=meta["n_tables"], dim=meta["dim"],
            seed=meta["seed"], id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, multiprobe=multiprobe,
            bucket_partitions=meta["bucket_partitions"], meta=meta)
    if s.kind == "ivf":
        from geomesa_spark.ml.ivf import ivf_topk_indexed
        index, centroids, meta = ivf
        return ivf_topk_indexed(
            index, queries, k, nprobe=nprobe, id_col=id_col,
            vec_col=vec_col, query_id_col=query_id_col,
            centroids=centroids,
            list_partitions=meta["list_partitions"],
            seed=meta["seed"], meta=meta)
    from geomesa_spark.ml.similarity import cosine_topk
    return cosine_topk(corpus, queries, k, id_col=id_col,
                       vec_col=vec_col, query_id_col=query_id_col)
