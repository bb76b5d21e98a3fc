from __future__ import annotations

import itertools

import duckdb
import pytest

from mrc_spark_jobs_pubmed_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="engine-tests", shuffle_partitions=8)
    yield s


_VIEWFS_MOUNTS = itertools.count()


@pytest.fixture
def viewfs(spark):
    """`mount(local_dir)` -> a `viewfs://` URI over that local directory:
    a Hadoop mount table, so tests drive a non-`file:` URI offline (the
    local `os.path` calls see nothing at it). Hadoop caches one FileSystem
    per scheme and authority, so every mount gets its own authority."""
    conf = spark._jsc.hadoopConfiguration()

    def mount(local_dir) -> str:
        auth = f"mnt{next(_VIEWFS_MOUNTS)}"
        conf.set(f"fs.viewfs.mounttable.{auth}.link./data", f"file://{local_dir}")
        return f"viewfs://{auth}/data"

    return mount


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def duck_with_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mimic the driver: fixture tables pre-registered as views."""
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
