"""The storage seam (`storage.py`) on a local path, a `file:` URI and a
`viewfs://` URI, and the engine paths that size their input through it."""

from __future__ import annotations

import os

from mrc_spark_jobs_pubmed_spark import storage
from mrc_spark_jobs_pubmed_spark.plans.graph_queries import graph_degree_distribution
from mrc_spark_jobs_pubmed_spark.sources import catalog

SF = "/root/testdata/sf0.001"


def test_stat_is_the_same_through_a_path_a_file_uri_and_viewfs(spark, tmp_path, viewfs):
    table = tmp_path / "t.parquet"
    spark.range(1000).repartition(2).write.parquet(str(table))
    parts = [p for p in table.iterdir() if p.name.startswith("part-")]
    assert len(parts) == 2

    got = {
        storage.stat(spark, str(table)),
        storage.stat(spark, f"file://{table}"),
        storage.stat(spark, f"{viewfs(tmp_path)}/t.parquet"),
    }
    assert got == {(
        sum(p.stat().st_size for p in parts),
        max(int(p.stat().st_mtime * 1000) for p in parts),
    )}


def test_exists_listdir_remove_through_viewfs(spark, tmp_path, viewfs):
    (tmp_path / "d" / "v0").mkdir(parents=True)
    (tmp_path / "d" / "v0" / "_SUCCESS").touch()
    (tmp_path / "d" / "v1").mkdir()
    uri = f"{viewfs(tmp_path)}/d"
    assert not os.path.exists(uri)
    assert storage.exists(spark, f"{uri}/v0/_SUCCESS")
    assert not storage.exists(spark, f"{uri}/v1/_SUCCESS")
    assert storage.listdir(spark, uri) == ["v0", "v1"]
    assert storage.listdir(spark, f"{uri}/missing") == []
    storage.remove(spark, f"{uri}/v0")
    storage.remove(spark, f"{uri}/missing")
    assert sorted(os.listdir(tmp_path / "d")) == ["v1"]


def test_fixture_under_viewfs_fans_out_and_builds_the_edge_table(spark, monkeypatch, viewfs):
    sf_uri = viewfs(SF)
    # one byte: fanning out needs the table's size read through the URI
    monkeypatch.setattr(catalog, "FAN_OUT_MIN_BYTES", 1)
    monkeypatch.setattr(catalog, "_FAN_OUT_NEEDED", {})
    target = spark.sparkContext.defaultParallelism
    docs = catalog.load_table(spark, "documents", sf_uri)
    assert docs.rdd.getNumPartitions() >= target

    want = sorted(graph_degree_distribution(spark, SF).collect())
    got = sorted(graph_degree_distribution(spark, sf_uri).collect())
    assert got == want and len(got) > 0
