"""Sinks: partitioned writes + idempotent resume.

Reference mechanisms replaced here:
* A4  blob-per-key uploads (job_pubmed_submit.py:21-28)   → partitioned
  parquet/csv writes with deterministic paths.
* A5  skip-if-exists guards (4 copies across the jobs)    → an anti-join
  of the work list against the sink's already-written keys — one
  declarative resume rule instead of a per-task HTTP existence check.
* A29 manual 5-chunk CSV splitting (word_count.py:85-103) → output
  partitioning (`repartition(n)`), which is what chunking was.
* A31 input!=output config guard (3 copies)               → validate().
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def validate(input_path: str, output_path: str) -> None:
    """A31: fail fast when a job would read and write the same path."""
    if os.path.abspath(input_path) == os.path.abspath(output_path):
        raise ValueError(
            f"input_path == output_path ({input_path!r}); refusing to overwrite input"
        )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    fmt: str = "parquet",
    mode: str = "append",
    n_chunks: int | None = None,
) -> None:
    """Partitioned write; `n_chunks` reproduces A29's chunked output as
    output-file parallelism instead of driver-side list slicing."""
    if n_chunks:
        df = df.repartition(n_chunks)
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 16,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffles ONCE at write time so every
    later equi-join/agg on `bucket_by` is exchange-free.

    This is the scale lever for repeatedly-joined fact tables (orders ⋈
    lineitem on orderkey at 100 TB): the shuffle is paid once at ingest,
    amortized over every downstream query. `sort_by` additionally makes
    those joins sort-merge-ready without a per-query sort.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_by)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)


def existing_keys(spark: SparkSession, path: str, key: T.StructField) -> DataFrame | None:
    """Distinct `key` values already in a parquet sink; None if the path
    does not exist yet. The sink is read with the key's schema, so a sink
    holding no data files gives zero keys; any other read error raises."""
    if not os.path.exists(path):
        return None
    return spark.read.schema(T.StructType([key])).parquet(path).select(key.name).distinct()


def pending(df: DataFrame, spark: SparkSession, path: str, key_col: str) -> DataFrame:
    """A5's resume rule: the rows of `df` whose `key_col` is not yet in
    the parquet sink at `path`, as an anti-join against the sink's keys
    (a column-pruned scan, broadcast when small)."""
    done = existing_keys(spark, path, df.schema[key_col])
    return df if done is None else df.join(done, key_col, "left_anti")


def idempotent_write(
    df: DataFrame,
    spark: SparkSession,
    path: str,
    key_col: str,
    partition_by: tuple[str, ...] = (),
) -> int:
    """A5 as dataflow: append the rows of `df` whose key is not in the sink
    yet (`pending`) and return how many were written. That is two actions
    over `df`, so a costly plan such as a fetch is better filtered with
    `pending` first and written once, as `run.run_pipeline` does."""
    fresh = pending(df, spark, path, key_col)
    n = fresh.count()
    if n:
        write_partitioned(fresh, path, partition_by, mode="append")
    return n
