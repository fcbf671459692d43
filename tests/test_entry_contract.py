"""Driver-contract parity: every oracle_sql() query must match its Spark twin
at sf0.01 (row count + order-insensitive values), mirroring the driver's
CORRECTNESS gate.  Rows-only queries must run and return sane shapes."""

import glob
import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for path in glob.glob(f"{SF_DIR}/*.parquet"):
        name = os.path.basename(path).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(rows):
    """Order-insensitive canonical form with column-name-sorted values."""
    out = []
    for row in rows:
        d = dict(row)
        vals = []
        for k in sorted(d):
            v = d[k]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "nan"
            vals.append((k, v))
        out.append(tuple(vals))
    return sorted(out, key=repr)


SQL_QUERIES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_sql_parity(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_rows = [r.asDict() for r in sdf.collect()]
    ddf = duck.execute(entry_mod.oracle_sql()[name]).df()
    duck_rows = ddf.to_dict("records")
    assert len(spark_rows) == len(duck_rows), f"{name}: row count mismatch"
    assert canon(spark_rows) == canon(duck_rows), f"{name}: value mismatch"


ROWS_ONLY = sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql()))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entry_mod.queries()[name](spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.columns) >= 2


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_entry_smoke(spark):
    spark.catalog.clearCache()
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"cluster_size", "n_clusters"}
    assert _cache_manager(spark).isEmpty()


def test_dedup_cluster_sizes_releases_its_cache(spark):
    """The pipeline hands its edges over persisted; the histogram does not
    read them, so the query releases them and leaves no cached frame."""
    spark.catalog.clearCache()
    df = entry_mod.queries()["dedup_cluster_sizes"](spark, SF_SMOKE)
    rows = sorted(tuple(r) for r in df.collect())
    assert rows
    assert _cache_manager(spark).isEmpty()
    assert sorted(tuple(r) for r in df.collect()) == rows


def test_streaming_lsh_dedup_removes_its_scratch_dir(spark):
    """The streaming query lands its input, band index, pairs and stream
    checkpoint in a scratch directory; the returned frame must not depend
    on it, and the directory must be gone once the query returns."""
    before = set(glob.glob("/tmp/fms_stream_lsh_*"))
    df = entry_mod.queries()["streaming_lsh_dedup"](spark, SF_SMOKE)
    assert set(glob.glob("/tmp/fms_stream_lsh_*")) <= before
    assert df.count() >= 0
