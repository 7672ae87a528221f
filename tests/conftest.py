from __future__ import annotations

import contextlib
import os
import sys
import types
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from graphview_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` runs the block under a fresh
    Spark job group; on exit ``jobs.n`` holds how many Spark jobs the
    block launched, read from the status tracker once the listener bus
    has delivered every event."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"spark-jobs-{uuid.uuid4().hex}"
        jobs = types.SimpleNamespace(n=0)
        sc.setJobGroup(group, "jobs counted by a test")
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def assert_df_matches_oracle(df, con, sql):
    """Order-insensitive comparison with columns sorted by name —
    the same contract as the driver's t2 gate."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.check import rows_fingerprint

    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    spark_rows = [tuple(r) for r in df.collect()]
    assert sorted(df.columns) == sorted(duck_cols), (df.columns, duck_cols)
    assert len(spark_rows) == len(duck_rows), (len(spark_rows), len(duck_rows))
    assert rows_fingerprint(df.columns, spark_rows) == rows_fingerprint(
        duck_cols, duck_rows
    )
