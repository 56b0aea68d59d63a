"""geomesa_spark.shipping — the package-to-workers addPyFile helper.

Regression for the round-5 operability bug: ``python jobs/ingest_images.py``
run from a cwd outside the repo died in the first pandas-UDF stage with
ModuleNotFoundError on the workers (the driver's sys.path insert does not
reach them). Every entry point now ships the package itself.
"""

import os
import sys
import zipfile

from geomesa_spark import shipping


def test_build_zip_contains_package(tmp_path):
    out = shipping.build_zip(str(tmp_path / "pkg.zip"))
    with zipfile.ZipFile(out) as zf:
        names = zf.namelist()
    assert "geomesa_spark/__init__.py" in names
    assert "geomesa_spark/shipping.py" in names
    # a representative from each subpackage the UDF workers import
    for mod in ("geomesa_spark/geo/predicates.py",
                "geomesa_spark/operators/join.py",
                "geomesa_spark/raster/fixtures.py"):
        assert mod in names, mod
    assert not any("__pycache__" in n for n in names)
    assert all(n.endswith(".py") for n in names)


def test_ship_package_idempotent_per_context(spark, monkeypatch):
    shipping._SHIPPED.discard(spark.sparkContext.applicationId)
    shipping.ship_package(spark)
    assert spark.sparkContext.applicationId in shipping._SHIPPED
    # cached contexts must not rebuild or re-register the zip
    monkeypatch.setattr(shipping, "build_zip",
                        lambda *a, **k: (_ for _ in ()).throw(
                            AssertionError("rebuilt despite cache")))
    shipping.ship_package(spark)


def test_jobs_call_ship_package():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for job in ("ingest_images.py", "spatial_query.py", "ann_query.py"):
        src = open(os.path.join(root, "jobs", job)).read()
        assert "ship_package(spark)" in src, job


def test_entry_module_uses_shipping():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(root, "__spark_entry__.py")).read()
    assert "from geomesa_spark.shipping import ship_package" in src


def test_run_query_list_names_all_queries():
    """jobs/run_query.py --list prints exactly the registry's names
    (the CLI is the operator's entry point to the driver-gated set)."""
    import subprocess

    import __spark_entry__ as entry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(root, "jobs", "run_query.py"),
         "--list"], capture_output=True, text=True, timeout=120)
    assert out.returncode == 0
    assert out.stdout.split() == list(entry.queries())


def test_warm_index_tables_ships_package(spark):
    """warm_index_tables is an entry point too: run from any cwd, it
    must ship the package before its pandas-UDF index builds."""
    import __spark_entry__ as entry

    shipping._SHIPPED.discard(spark.sparkContext.applicationId)
    entry.warm_index_tables(spark, "/root/testdata/sf0.001")
    assert spark.sparkContext.applicationId in shipping._SHIPPED
