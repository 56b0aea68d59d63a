"""LSH index-reading oracle: builder-twin equivalence and probe-sidecar
parity — the foundations of the driver's `lsh_topk`/`ann_routed` DuckDB
twins (the same design the IVF oracle uses: query and oracle read the
SAME stored files, so the check verifies the distributed plumbing
exactly at ANY recall instead of gating on recall-1.0 fixtures)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


class TestBuilderTwins:
    def test_local_twin_rows_match_spark_builder(self, spark, emb,
                                                 tmp_path):
        """Either builder may materialize the stored index first (Spark
        ingest or the oracle's numpy twin); prove the (vec_id, bk, pt)
        rows and the sidecar are bit-identical so correctness never
        depends on which ran."""
        from geomesa_spark.ml.similarity import (build_lsh_index,
                                                 build_lsh_index_local,
                                                 read_lsh_meta)
        ps, pl = str(tmp_path / "spark"), str(tmp_path / "local")
        build_lsh_index(emb, ps, n_planes=5, n_tables=4,
                        bucket_partitions=8)
        build_lsh_index_local(f"{SF}/embeddings.parquet", pl,
                              n_planes=5, n_tables=4,
                              bucket_partitions=8)
        assert read_lsh_meta(ps) == read_lsh_meta(pl)
        rows_s = sorted((r["vec_id"], r["bk"], r["pt"])
                        for r in spark.read.parquet(ps).collect())
        rows_l = sorted((r["vec_id"], r["bk"], r["pt"])
                        for r in spark.read.parquet(pl).collect())
        assert rows_s == rows_l

    def test_local_twin_default_planes_follow_corpus(self, tmp_path):
        """n_planes=None sizes from the corpus row count exactly like
        the ingest path (a mismatched plane count would silently probe
        a different index geometry)."""
        from geomesa_spark.ml.similarity import (build_lsh_index_local,
                                                 default_n_planes,
                                                 read_lsh_meta)
        import pyarrow.parquet as pq
        p = str(tmp_path / "idx")
        build_lsh_index_local(f"{SF}/embeddings.parquet", p)
        n = pq.read_metadata(f"{SF}/embeddings.parquet").num_rows
        assert read_lsh_meta(p)["n_planes"] == default_n_planes(n)

    def test_local_rebuild_drops_stale_files(self, spark, tmp_path):
        """Rebuilding over an index of another plane count and partition
        fan-out leaves only the new build's files: a stale ``pt=*/``
        part file would mix old buckets into every candidate set."""
        import shutil

        from geomesa_spark.ml.similarity import (build_lsh_index_local,
                                                 read_lsh_meta)
        p, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
        build_lsh_index_local(f"{SF}/embeddings.parquet", p,
                              n_planes=3, n_tables=4, bucket_partitions=16)
        stale = os.path.join(p, "pt=0", "part-00000.parquet")
        shutil.copy(stale, os.path.join(p, "pt=0", "part-00001-old.parquet"))
        build_lsh_index_local(f"{SF}/embeddings.parquet", p,
                              n_planes=5, n_tables=4, bucket_partitions=8)
        build_lsh_index_local(f"{SF}/embeddings.parquet", fresh,
                              n_planes=5, n_tables=4, bucket_partitions=8)

        def files(root):
            return sorted(os.path.relpath(os.path.join(d, f), root)
                          for d, _, fs in os.walk(root) for f in fs)
        assert files(p) == files(fresh)
        assert not os.path.exists(os.path.join(p, "pt=8"))
        assert read_lsh_meta(p)["n_planes"] == 5
        assert sorted(tuple(r) for r in spark.read.parquet(p).collect()) \
            == sorted(tuple(r) for r in spark.read.parquet(fresh).collect())
        assert not [d for d in os.listdir(tmp_path) if ".building-" in d]


def _sidecar_probes(path):
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    tbl = pq.read_table(os.path.join(path, entry._LSH_PROBES_FILE))
    return set(zip(tbl["query_id"].to_pylist(), tbl["bk"].to_pylist()))


def _engine_probes(emb, meta):
    from geomesa_spark.ml.similarity import (_collect_matrix,
                                             compute_probe_rows)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("string").alias("query_id"), "embedding")
    q_ids, q_mat = _collect_matrix(queries, "query_id", "embedding")
    return compute_probe_rows(
        q_ids, q_mat, n_planes=meta["n_planes"],
        n_tables=meta["n_tables"], dim=meta["dim"],
        seed=meta["seed"], multiprobe=2)


class TestProbeSidecar:
    def test_sidecar_probes_equal_engine_probes(self, spark, emb,
                                                monkeypatch, tmp_path):
        """The probe parquet the oracle reads must contain EXACTLY the
        (query_id, bucket) pairs the engine's driver-side expansion
        probes — same _collect_matrix normalization, same seeded planes,
        same masks (one shared compute_probe_rows)."""
        import __spark_entry__ as entry
        monkeypatch.setattr(entry, "_CACHE_ROOT", str(tmp_path))
        path, meta = entry._ensure_lsh_oracle_index(SF)
        sidecar = _sidecar_probes(path)
        engine = _engine_probes(emb, meta)
        assert sidecar == engine

    def test_sidecar_follows_in_place_rebuild(self, spark, emb,
                                              monkeypatch, tmp_path):
        """A Spark rebuild under dynamic partition overwrite replaces the
        index in place with another plane count and keeps the
        directory's underscore files: the probe sidecar computed for the
        old geometry must be rewritten, not reused."""
        import __spark_entry__ as entry
        from geomesa_spark.ml.similarity import build_lsh_index
        monkeypatch.setattr(entry, "_CACHE_ROOT", str(tmp_path))
        path, meta = entry._ensure_lsh_oracle_index(SF)
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key)
        spark.conf.set(key, "dynamic")
        try:
            build_lsh_index(emb, path, n_planes=meta["n_planes"] + 1,
                            n_tables=8, bucket_partitions=16)
        finally:
            spark.conf.set(key, prev)
        assert os.path.exists(os.path.join(path, entry._LSH_PROBES_FILE))
        path, meta = entry._ensure_lsh_oracle_index(SF)
        assert _sidecar_probes(path) == _engine_probes(emb, meta)

    def test_index_reading_oracle_matches_engine(self, spark,
                                                 monkeypatch, tmp_path):
        """End-to-end twin check at a non-gate SF: q_lsh_topk on Spark
        vs _lsh_oracle_sql on DuckDB over the same stored index."""
        import __spark_entry__ as entry
        monkeypatch.setattr(entry, "_CACHE_ROOT", str(tmp_path))
        srows = sorted(tuple(r) for r in
                       entry.q_lsh_topk(spark, SF).collect())
        path, _ = entry._ensure_lsh_oracle_index(SF)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{SF}/embeddings.parquet'")
        drows = sorted(tuple(r) for r in
                       con.sql(entry._lsh_oracle_sql(path)).fetchall())
        assert srows == drows


class TestParquetNumRows:
    def test_counts_single_file_and_directory_tables(self, tmp_path):
        """The scaled /tmp fixtures are Spark-written parquet
        DIRECTORIES; the oracle's row-count probe must count those too
        (pq.read_metadata alone rejects them — the regression degraded
        the LSH/routed oracles to rows-only exactly at the scale they
        were built to cover)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        f = str(tmp_path / "single.parquet")
        pq.write_table(pa.table({"x": [1, 2, 3]}), f)
        assert entry._parquet_num_rows(f) == 3
        d = tmp_path / "dir.parquet"
        d.mkdir()
        pq.write_table(pa.table({"x": [1, 2]}), str(d / "part-0.parquet"))
        pq.write_table(pa.table({"x": [3]}), str(d / "part-1.parquet"))
        (d / "_SUCCESS").touch()  # non-parquet marker files are skipped
        assert entry._parquet_num_rows(str(d)) == 3

    def test_partitioned_directory_raises(self, tmp_path):
        """A hive-layout directory has no top-level parquet files; its
        footer count must fail loudly, naming the path, not report 0."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        d = tmp_path / "hive.parquet"
        (d / "pt=0").mkdir(parents=True)
        pq.write_table(pa.table({"x": [1, 2]}),
                       str(d / "pt=0" / "part-0.parquet"))
        with pytest.raises(ValueError, match="hive.parquet"):
            entry._parquet_num_rows(str(d))


class TestRoutedOracle:
    def test_routed_twin_follows_decider(self, monkeypatch, tmp_path):
        """The ann_routed oracle emits the SQL of the path decide_ann
        picks from the same counts + sidecars: exact (cross join) at
        gate scale, where the probe sets cover most buckets."""
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        from geomesa_spark.ml.ivf import read_ivf_meta
        from geomesa_spark.ml.router import decide_ann
        monkeypatch.setattr(entry, "_CACHE_ROOT", str(tmp_path))
        got = entry.oracle_sql(SF)["ann_routed"]
        n = pq.read_metadata(f"{SF}/embeddings.parquet").num_rows
        _, lsh_meta = entry._ensure_lsh_oracle_index(SF)
        ivf_meta = read_ivf_meta(entry._ensure_ivf_oracle_index(SF))
        s = decide_ann(n, (n + 49) // 50, lsh_meta=lsh_meta,
                       ivf_meta=ivf_meta, multiprobe=2,
                       nprobe=entry._IVF_NPROBE)
        if s.kind == "exact":
            assert "CROSS JOIN" in got
        elif s.kind == "lsh":
            assert entry._LSH_PROBES_FILE in got
        else:
            assert "_ivf_centroids.parquet" in got
        # the gate fixture is in the documented exact regime
        assert s.kind == "exact"
