"""End-to-end pipeline tests with deterministic mock HTTP (SURVEY.md §7
step 5): work table → pagination → bounded-retry fetch → NDJSON parse →
keywords v1/v2 → idempotent partitioned sinks."""

from __future__ import annotations

import json
import os
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark.pipeline import (
    ingest,
    keywords,
    parse,
    sinks,
)
from mrc_spark_jobs_pubmed_spark.pipeline.run import run_pipeline


def test_work_table_schema_and_coverage(spark):
    work = ingest.build_work_table(spark, 2019, 2020)
    assert work.columns == ["year", "month", "fetch_url", "total_records"]
    assert work.count() == 24  # 2 years × 12 months — fixes reference bug B1
    assert work.filter(F.col("total_records") <= 0).count() == 0


def test_pagination_covers_every_offset(spark):
    work = ingest.build_work_table(spark, 2020, 2020)
    pages = ingest.expand_pages(work)
    got = pages.groupBy("year", "month").agg(
        F.count("*").alias("n_pages"), F.max("offset").alias("max_off")
    )
    joined = work.join(got, ["year", "month"])
    bad = joined.filter(
        (F.col("n_pages") != F.ceil(F.col("total_records") / ingest.PAGE_SIZE))
        | (F.col("max_off") >= F.col("total_records"))
    )
    assert bad.count() == 0
    key = pages.select("page_key").first().page_key
    assert key.count("_") == 3 and "num" in key  # {year}_{month}_num_{offset}


def test_fetch_bounded_retry_succeeds_after_transients(spark):
    attempts: dict[str, int] = {}

    def flaky(url: str) -> str:
        n = attempts.get(url, 0) + 1
        attempts[url] = n
        if n <= 2:
            return "API rate limit exceeded"
        return ingest.mock_fetcher(url)

    work = ingest.build_work_table(spark, 2020, 2020).limit(1)
    pages = ingest.expand_pages(work).limit(2)
    out = ingest.fetch_pages(pages, flaky, max_retries=5).collect()
    assert all(r.payload is not None and r.n_attempts == 3 for r in out)


def test_fetch_gives_up_after_max_retries(spark):
    def always_limited(url: str) -> str:
        return "Exception from Backend"

    work = ingest.build_work_table(spark, 2020, 2020).limit(1)
    pages = ingest.expand_pages(work).limit(1)
    out = ingest.fetch_pages(pages, always_limited, max_retries=3).collect()
    assert out[0].payload is None and out[0].n_attempts == 3


def test_parse_filters_missing_abstract_and_derives_year(spark):
    payload = "\n".join(
        [
            json.dumps({"pmid": "1", "medent": {"abstract": "Cats and dogs."}}),
            json.dumps({"pmid": "2", "medent": {}}),
            "not json at all",
        ]
    )
    fetched = spark.createDataFrame(
        [("2020_1_num_0", 2020, 1, 0, payload, 1)],
        ["page_key", "year", "month", "offset", "payload", "n_attempts"],
    )
    rows = parse.parse_articles(fetched).collect()
    assert [(r.pmid, r.year) for r in rows] == [("1", 2020)]
    both = parse.parse_articles(fetched, require_abstract=False).collect()
    assert {r.pmid for r in both} == {"1", "2"}


def test_keywords_v1_golden(spark):
    articles = spark.createDataFrame(
        [("123456", 2020, "This article is a review of the different publications "
          "on breast cancer in men.")],
        ["pmid", "year", "abstract"],
    )
    got = {(r.word, r.pmid) for r in keywords.keywords_v1(articles).collect()}
    want_words = {"article", "review", "different", "publication", "breast", "cancer", "man"}
    assert got == {(w, "123456") for w in want_words}


def test_keywords_v2_shape(spark):
    articles = spark.createDataFrame(
        [("7", 2019, "Cats chase mice daily.")], ["pmid", "year", "abstract"]
    )
    row = keywords.keywords_v2(articles).first()
    assert (row.pmid, row.year) == ("7", 2019)
    assert row.keywords == "cat chase daily mouse"


def test_config_guard_rejects_same_path(tmp_path):
    with pytest.raises(ValueError, match="input_path == output_path"):
        sinks.validate(str(tmp_path), str(tmp_path))


def test_idempotent_write_skips_done_keys(spark, tmp_path):
    out = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    assert sinks.idempotent_write(df, spark, out, "k") == 2
    # re-run with one new key: only the new row lands
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], ["k", "v"])
    assert sinks.idempotent_write(df2, spark, out, "k") == 1
    assert spark.read.parquet(out).count() == 3


def test_full_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "pm")
    dfs = run_pipeline(spark, out, 2020, 2020)
    arts = spark.read.parquet(f"{out}/articles")
    assert arts.count() > 0
    assert "year=2020" in str(
        [p.name for p in (tmp_path / "pm" / "articles").iterdir()]
    )
    kw1 = spark.read.parquet(f"{out}/keywords_v1")
    assert kw1.columns == ["word", "pmid"] and kw1.count() > 0
    kw2 = spark.read.csv(f"{out}/keywords_v2")
    assert kw2.count() == dfs["articles"].count()
    # idempotent resume: second run appends nothing to articles
    n_before = arts.count()
    run_pipeline(spark, out, 2020, 2020)
    assert spark.read.parquet(f"{out}/articles").count() == n_before


def _physical(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    # shuffle paid once at write time: a join of two tables bucketed on
    # the same key must plan with zero Exchange nodes
    from mrc_spark_jobs_pubmed_spark.pipeline import sinks

    left = spark.range(0, 1000).withColumn("v", F.col("id") % 7)
    right = spark.range(0, 1000).withColumn("w", F.col("id") % 3)
    sinks.write_bucketed(left, "t_bkt_left", "id", n_buckets=4, sort_by="id")
    sinks.write_bucketed(right, "t_bkt_right", "id", n_buckets=4, sort_by="id")
    try:
        joined = (
            spark.table("t_bkt_left")
            .hint("merge")  # force SMJ: broadcast would hide the bucketing
            .join(spark.table("t_bkt_right"), "id")
        )
        plan = _physical(joined)
        assert "Exchange" not in plan
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_left")
        spark.sql("DROP TABLE IF EXISTS t_bkt_right")


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    # partitionBy(year) layout → a year predicate prunes at the file
    # index, never touching other partitions (the declarative form of the
    # reference's year-prefix blob listing, job_pubmed_jsons.py:49-50)
    from mrc_spark_jobs_pubmed_spark.pipeline import sinks

    df = spark.createDataFrame(
        [(i, 2018 + i % 3, f"doc {i}") for i in range(30)], ["doc_id", "year", "text"]
    )
    out = str(tmp_path / "by_year")
    sinks.write_partitioned(df, out, partition_by=("year",), mode="overwrite")
    back = spark.read.parquet(out).filter(F.col("year") == 2019)
    plan = _physical(back)
    assert "PartitionFilters: [isnotnull(year" in plan or "year#" in plan.split(
        "PartitionFilters"
    )[1].splitlines()[0]
    assert back.count() == 10


def test_parse_quarantine_splits_good_and_bad(spark):
    from mrc_spark_jobs_pubmed_spark.pipeline.parse import parse_articles_quarantine

    payload = "\n".join(
        [
            '{"pmid": "1", "medent": {"abstract": "good one"}}',
            "this is not json at all {{{",
            '{"no_pmid": true}',
            '{"pmid": "2", "medent": {}}',
        ]
    )
    fetched = spark.createDataFrame(
        [("2019_1_num_0", 2019, payload)], ["page_key", "year", "payload"]
    )
    good, bad = parse_articles_quarantine(fetched)
    assert {r.pmid for r in good.collect()} == {"1", "2"}
    raws = [r.raw_line for r in bad.collect()]
    assert len(raws) == 2 and any("not json" in r for r in raws)


def test_pagination_empty_month_yields_zero_pages(spark):
    """A month with total_records == 0 must produce no pages, not a
    sequence() bounds error (the reference's range(0, 0) was a no-op)."""
    from mrc_spark_jobs_pubmed_spark.pipeline import ingest

    work = ingest.build_work_table(
        spark, 2019, 2019, search=lambda y, m: (f"http://x/{y}-{m}", 0)
    )
    assert ingest.expand_pages(work).count() == 0


def test_pagination_mixed_empty_and_nonempty_months(spark):
    from mrc_spark_jobs_pubmed_spark.pipeline import ingest

    work = ingest.build_work_table(
        spark,
        2019,
        2019,
        search=lambda y, m: (f"http://x/{y}-{m}", 25000 if m == 3 else 0),
    )
    pages = ingest.expand_pages(work).collect()
    assert {(p.year, p.month, p.offset) for p in pages} == {
        (2019, 3, 0),
        (2019, 3, 10000),
        (2019, 3, 20000),
    }


def test_http_adapters_with_canned_responses(spark):
    """The requests-backed seams, driven end to end on canned responses:
    esearch JSON -> work table; efetch bodies with one transient
    rate-limit response -> retry classification in fetch_pages."""
    import json as _json

    from mrc_spark_jobs_pubmed_spark.pipeline import ingest

    class Resp:
        def __init__(self, body):
            self.text = body

        def json(self):
            return _json.loads(self.text)

    calls = []

    def canned_post(url):
        calls.append(url)
        if "esearch" in url:
            return Resp(
                '{"esearchresult": {"webenv": "WE_1", "count": "15000"}}'
            )
        # first efetch attempt per URL is rate-limited, then succeeds
        if calls.count(url) == 1:
            return Resp("API rate limit exceeded")
        return Resp('{"pmid": "1", "medent": {"abstract": "ok"}}')

    def search(year, month):
        return ingest.http_search(year, month, post=canned_post)

    def fetcher(url):
        return ingest.http_fetcher(url, post=canned_post)

    # esearch builds the reference URL shape, December wraps the year
    assert "mindate=2019/12/01" in ingest.esearch_url(2019, 12)
    assert "maxdate=2020/01/01" in ingest.esearch_url(2019, 12)
    # months unpadded, matching the reference's str(month) URL building
    assert "maxdate=2019/3/01" in ingest.esearch_url(2019, 2)

    work = ingest.build_work_table(spark, 2019, 2019, search=search)
    row = work.first()
    assert row.total_records == 15000
    assert "webenv=WE_1" in row.fetch_url

    pages = ingest.expand_pages(work.limit(1))
    fetched = ingest.fetch_pages(pages, fetcher=fetcher, max_retries=3).collect()
    assert len(fetched) == 2  # 15000 records -> offsets 0 and 10000
    for r in fetched:
        assert r.payload is not None and "pmid" in r.payload
        assert r.n_attempts == 2  # one rate-limited attempt, one success


# --- fetch-once / resume-before-fetch contract of run_pipeline --------------


def _counting_fetcher(counter_dir, fail=lambda page_key: False):
    """`ingest.mock_fetcher` that appends one byte per call to
    `{counter_dir}/{page_key}`. The fetcher runs in Python workers, so the
    count lives in files: one-byte O_APPEND writes are atomic across
    processes. A page for which `fail(page_key)` is true always answers with
    a retry marker."""
    counter_dir.mkdir()
    counter_dir = str(counter_dir)

    def fetch(url: str) -> str:
        q = parse_qs(urlparse(url).query)
        key = f"{q['year'][0]}_{q['month'][0]}_num_{q['retstart'][0]}"
        fd = os.open(os.path.join(counter_dir, key), os.O_WRONLY | os.O_APPEND | os.O_CREAT)
        try:
            os.write(fd, b".")
        finally:
            os.close(fd)
        if fail(key):
            return ingest.RETRY_MARKERS[0]
        return ingest.mock_fetcher(url)

    return fetch


def _calls(counter_dir) -> dict[str, int]:
    """Fetcher calls per page_key since the directory was created."""
    return {p.name: p.stat().st_size for p in counter_dir.iterdir()}


def _all_pages(spark, year: int) -> set[str]:
    work = ingest.build_work_table(spark, year, year)
    return {r.page_key for r in ingest.expand_pages(work).collect()}


_KW2_SCHEMA = "pmid string, keywords string, year int"


def _sink_digests(spark, out: str) -> tuple:
    """Order-independent (row count, hash sum) of each of the three sinks."""

    def digest(df):
        n, h = df.select(
            F.count("*"), F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31)))
        ).first()
        return n, h

    return (
        digest(spark.read.parquet(f"{out}/articles")),
        digest(spark.read.parquet(f"{out}/keywords_v1")),
        digest(spark.read.schema(_KW2_SCHEMA).csv(f"{out}/keywords_v2")),
    )


def test_pipeline_fetches_each_page_once_and_resume_fetches_none(spark, tmp_path):
    out = str(tmp_path / "pm")
    run1, run2 = tmp_path / "calls1", tmp_path / "calls2"
    run_pipeline(spark, out, 2020, 2020, fetcher=_counting_fetcher(run1))
    calls = _calls(run1)
    assert set(calls) == _all_pages(spark, 2020)
    assert set(calls.values()) == {1}
    before = _sink_digests(spark, out)
    assert all(n > 0 for n, _ in before)

    run_pipeline(spark, out, 2020, 2020, fetcher=_counting_fetcher(run2))
    assert _calls(run2) == {}
    assert _sink_digests(spark, out) == before


def test_pipeline_resume_into_a_viewfs_out_dir_fetches_none(spark, tmp_path, viewfs):
    # a non-file: URI must resume like a local path: the sink's keys are
    # found through Hadoop, not os.path (which sees nothing at a URI)
    out = f"{viewfs(tmp_path)}/pm"
    run1, run2 = tmp_path / "calls1", tmp_path / "calls2"
    run_pipeline(spark, out, 2020, 2020, fetcher=_counting_fetcher(run1))
    assert set(_calls(run1)) == _all_pages(spark, 2020)
    n = spark.read.parquet(f"{out}/articles").count()
    assert n > 0 and (tmp_path / "pm" / "articles").is_dir()

    run_pipeline(spark, out, 2020, 2020, fetcher=_counting_fetcher(run2))
    assert _calls(run2) == {}
    assert spark.read.parquet(f"{out}/articles").count() == n


def test_pipeline_refetches_only_the_page_that_exhausted_retries(spark, tmp_path):
    out = str(tmp_path / "pm")
    pages = sorted(_all_pages(spark, 2020))
    bad = pages[len(pages) // 2]
    run1, run2 = tmp_path / "calls1", tmp_path / "calls2"
    run_pipeline(spark, out, 2020, 2020,
                 fetcher=_counting_fetcher(run1, lambda key: key == bad))
    calls = _calls(run1)
    assert calls.pop(bad) == 5  # run_pipeline's bounded retry gave up
    assert set(calls) == set(pages) - {bad} and set(calls.values()) == {1}
    arts = spark.read.parquet(f"{out}/articles")
    assert arts.filter(F.col("page_key") == bad).count() == 0
    n1 = arts.count()

    run_pipeline(spark, out, 2020, 2020, fetcher=_counting_fetcher(run2))
    assert _calls(run2) == {bad: 1}
    arts = spark.read.parquet(f"{out}/articles")
    n_bad = arts.filter(F.col("page_key") == bad).count()
    assert n_bad > 0 and arts.count() == n1 + n_bad
    kw2 = spark.read.schema(_KW2_SCHEMA).csv(f"{out}/keywords_v2")
    assert kw2.count() == arts.count()


def test_pipeline_with_every_page_failing_writes_empty_keyword_sinks(spark, tmp_path):
    out = str(tmp_path / "pm")
    calls = tmp_path / "calls"
    dfs = run_pipeline(spark, out, 2020, 2020,
                       fetcher=_counting_fetcher(calls, lambda key: True))
    assert set(_calls(calls).values()) == {5}
    assert dfs["articles"].count() == 0
    assert spark.read.schema("word string, pmid string").parquet(
        f"{out}/keywords_v1").count() == 0
    assert spark.read.schema(_KW2_SCHEMA).csv(f"{out}/keywords_v2").count() == 0
    # a sink directory without data files holds zero keys
    key = dfs["pages"].schema["page_key"]
    assert sinks.existing_keys(spark, f"{out}/articles", key).count() == 0


def test_pipeline_keyword_sinks_hold_only_the_latest_year_range(spark, tmp_path):
    out = str(tmp_path / "pm")
    run_pipeline(spark, out, 2019, 2019)
    run_pipeline(spark, out, 2020, 2020)
    arts = spark.read.parquet(f"{out}/articles")
    assert {r.year for r in arts.select("year").distinct().collect()} == {2019, 2020}
    pmids_2020 = {r.pmid for r in arts.filter(F.col("year") == 2020).collect()}
    kw2 = spark.read.schema(_KW2_SCHEMA).csv(f"{out}/keywords_v2").collect()
    assert {r.year for r in kw2} == {2020}
    assert sorted(r.pmid for r in kw2) == sorted(pmids_2020)
    kw1 = {r.pmid for r in spark.read.parquet(f"{out}/keywords_v1").collect()}
    assert kw1 and kw1 <= pmids_2020


def test_pipeline_raises_on_a_corrupt_articles_sink(spark, tmp_path):
    """A sink that cannot be read is an error, not "nothing written yet":
    treating it as absent would re-fetch every page and append duplicates."""
    # a sink whose only data file is garbage (a torn write)
    torn = tmp_path / "torn"
    (torn / "articles" / "year=2020").mkdir(parents=True)
    (torn / "articles" / "year=2020" / "part-garbage.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet"):
        run_pipeline(spark, str(torn), 2020, 2020)
    assert [p.name for p in (torn / "articles").rglob("*.parquet")] == ["part-garbage.parquet"]

    # a garbage file next to good ones: the good rows stay as they were
    out = tmp_path / "pm"
    run_pipeline(spark, str(out), 2020, 2020)
    files = sorted(str(p) for p in (out / "articles").rglob("*.parquet"))
    n = spark.read.parquet(*files).count()
    garbage = out / "articles" / "year=2020" / "part-garbage.parquet"
    garbage.write_bytes(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet"):
        run_pipeline(spark, str(out), 2020, 2020)
    assert sorted(str(p) for p in (out / "articles").rglob("*.parquet")) == sorted(
        files + [str(garbage)]
    )
    assert spark.read.parquet(*files).count() == n
