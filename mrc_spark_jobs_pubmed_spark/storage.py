"""The storage seam: every size, existence check, listing and delete of a
data path, through the Hadoop ``FileSystem`` of the path (reached via the
session's JVM gateway). A data path is a local path or any URI Hadoop can
open (``file:``, ``hdfs://``, ``s3a://``, ``gs://``, ``viewfs://``, ...).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def stat(spark: SparkSession, *paths: str) -> tuple[int, int]:
    """(total bytes, newest mtime in ms) of the data files under `paths`,
    recursive. Like Spark's file index, names starting with ``_`` or ``.``
    (``_SUCCESS``, checksum side files) are skipped. A missing path raises."""
    size = mtime = 0
    for path in paths:
        fs, p = _fs(spark, path)
        files = fs.listFiles(p, True)
        while files.hasNext():
            f = files.next()
            if f.getPath().getName()[:1] not in ("_", "."):
                size += f.getLen()
                mtime = max(mtime, f.getModificationTime())
    return size, mtime


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def listdir(spark: SparkSession, path: str) -> list[str]:
    """Sorted names of the entries directly under `path`; a missing path
    lists as empty."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(s.getPath().getName() for s in fs.listStatus(p))


def remove(spark: SparkSession, path: str) -> None:
    """Delete `path` and everything under it; a missing path is a no-op."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)
