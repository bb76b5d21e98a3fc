"""SparkSession factory.

The reference hand-tuned parallelism with ``repartition(12)`` ("3x cores",
spark-pubmed/job_pubmed_submit.py:84,96) and debugged skew with driver-side
``glom`` dumps (job_pubmed_submit.py:92,98). The engine replaces all of that
with AQE: runtime partition coalescing, skew-join splitting, and
broadcast-join conversion. Arrow is enabled so every pandas_udf seam is
vectorized batch transfer, and the session timezone is pinned to UTC so
timestamp semantics match the DuckDB correctness oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Half the host's physical memory, capped at 16g. In local mode the
    driver JVM holds every executor; the other half is left to the
    forked Python workers and the OS."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(16 << 10, phys_mb // 2)}m"


def get_session(
    app_name: str = "mrc-spark-jobs-pubmed-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster the same builder is used without ``master`` so
    spark-submit supplies it; locally we default to ``local[N]`` with
    N = SPARK_GRAFT_CPUS. Shuffle partitions default to the core count —
    AQE coalesces down when partitions are small and splits skewed ones,
    so this is an upper bound, not a hand-tuned constant.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # local[N] runs all N executor threads in the driver JVM; Spark's 1g
    # default heap OOMs around sf1 (6M-row lineitem + 32 concurrent
    # hash-agg partitions). Must be set before the JVM launches, hence
    # here and not per-query. On a real cluster spark-submit overrides.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        # the oracle harness collects full results; pair-enumeration
        # outputs at sf>=1 exceed the 1g default (engine paths never
        # collect — this bounds only the verification harness)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # If a fixture generation ships events.ts as TIMESTAMP(NANOS) (no
        # Spark equivalent type), sources/catalog.py detects it from the
        # parquet footer and reads the raw int64 under this flag, truncating
        # to micros. Harmless when the fixture is micros (the current one):
        # the flag only changes how ns columns surface.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Parquet writes default to zstd (guide §6): r10 A/B on events
        # sf1 — 9.1 MB snappy vs 4.5 MB zstd at equal-or-faster write
        # time (AB_r10_parquet_codec.json). Read paths are codec-
        # agnostic, so bench/oracle results are unchanged; at 100 TB
        # the halved output bytes are NIC/storage headroom. The SHUFFLE
        # codec stays lz4: the same round's three-session bracket A/B
        # (AB_r10_codec_sf20.json) measured zstd inside lz4's drift
        # band on local[32] — decide that one on a real network.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Runtime Bloom-filter join pre-filtering (SPARK-32268, guide
        # §3.2): semantics-preserving — the filter only drops rows that
        # provably cannot match, orders of magnitude fewer fact bytes
        # shuffle when a selective dim/slice gates a fact scan. The
        # 10 MB creation-side default almost never fires after the r10
        # broadcast-policy sweep (the selective sides are fact slices
        # above 10 MB at any real sf), so: creation side up to 256 MB
        # (the filter itself stays <= maxNumBits/8 = 64 MB broadcast —
        # executor-safe at any cluster size), application-side scan
        # >= 1 GB (default 10 GB never engaged; at bench sf0.1 every
        # scan is < 1 GB so local plans and plan-fp pins are untouched
        # — the knob engages exactly where shuffle bytes dominate).
        # sf20 same-session A/B (AB_r10_conf_sf20.json): q3 37->26 s,
        # q10 5.2->4.2 s, q16 10->5.1 s, q5/q9/q18/q21 unchanged.
        .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "256m")
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1g",
        )
        .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", str(64 * 1024 * 1024))
        .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", str(512 * 1024 * 1024))
        # NO spark.sql.files.minPartitionNum floor (r5). The r4 floor
        # (2x cores) regressed small scans ~1.3-2.2x (TPC-H Q1 sf0.1:
        # 0.30 -> 0.44 s; even sf1: 0.26 -> 0.35 s, A/B median-of-3,
        # warm) while winning nothing: Spark's own split formula
        # min(maxPartitionBytes, max(openCost, bytes/parallelism))
        # already yields ~1 split per core once a table exceeds
        # openCost x cores, and the one genuine under-parallelization
        # case — CPU-heavy per-row work over a compact single-row-group
        # file — is handled by the volume-gated fan_out() in
        # sources/catalog.py (>= 4 MB corpus tables only). At 100 TB
        # file volume alone saturates the cluster and a floor is moot.
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
