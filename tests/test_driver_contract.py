"""Local mirror of the driver's correctness gate: run every queries() entry
at sf0.001 and check it against its DuckDB twin with the one typed
comparison (``geomesa_spark.oracle.mismatch``). The driver runs the same
twins at sf0.01."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from geomesa_spark.oracle import connect, mismatch

SF_DIR = "/root/testdata/sf0.001"

# the shard_pack twin before its BIGINT cast: DuckDB's sum over BIGINT
# is HUGEINT, which Spark's int64 global_start must not pass for
SHARD_PACK_HUGEINT_TWIN = """
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(lower(trim(text)),
                                            '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id)
               - n_tokens AS global_start
      FROM t)
    SELECT doc_id, n_tokens, global_start,
           global_start // 4096 AS shard_id,
           global_start % 4096 AS shard_offset
    FROM c ORDER BY doc_id"""


@pytest.fixture(scope="module")
def ddb():
    return connect(SF_DIR)


ORACLES = entrymod.oracle_sql(SF_DIR)
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, ddb, name):
    df = QUERIES[name](spark, SF_DIR)
    diff = mismatch(df, ddb, ORACLES.get(name))
    assert diff is None, f"{name}: {diff}"


def test_hugeint_twin_is_a_type_mismatch(spark, ddb):
    diff = mismatch(QUERIES["shard_pack"](spark, SF_DIR), ddb,
                    SHARD_PACK_HUGEINT_TWIN)
    assert diff is not None and "type" in diff, diff
    assert "decimal128(38, 0)" in diff, diff


def test_window_order_least_recently_certified_first(monkeypatch):
    names = list(entrymod._QUERIES)  # registration order
    monkeypatch.setattr(entrymod, "_last_certified",
                        lambda: {names[0]: 5, names[1]: 4, names[2]: 5})
    order = list(entrymod.queries())
    assert order == names[3:] + [names[1], names[0], names[2]]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
