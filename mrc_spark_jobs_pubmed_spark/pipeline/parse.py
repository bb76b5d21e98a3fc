"""Parse stage: raw NDJSON pages → typed article records.

Reference: an external `asn1.to_json` module converts ASN.1 blobs to
NDJSON (spark-pubmed-jsons/job_pubmed_jsons.py:39, module not in the
repo), then keywords-v2 parses NDJSON with `ndjson.loads` and duck-typed
dict access (extract_keywords_from_all_abstracts.py:94-100). The engine's
contract starts at NDJSON (SURVEY.md §7 hard parts): split + from_json
with an explicit schema replaces both, entirely inside Catalyst.

Covers A8/A9 (parse), A10 (has-abstract filter), A11 (nested projection),
A12 (key-derived year column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ARTICLE_JSON_SCHEMA = T.StructType(
    [
        T.StructField("pmid", T.StringType()),
        T.StructField(
            "medent",
            T.StructType([T.StructField("abstract", T.StringType())]),
        ),
    ]
)


def parse_articles(fetched: DataFrame, require_abstract: bool = True) -> DataFrame:
    """(page_key, payload NDJSON) → (pmid, year, abstract, page_key): the
    good side of `parse_articles_quarantine`, by default only the articles
    that have an abstract — a Catalyst predicate on the nested field (A10).
    """
    articles, _ = parse_articles_quarantine(fetched)
    if require_abstract:
        articles = articles.filter(F.col("abstract").isNotNull())
    return articles


def parse_articles_quarantine(fetched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Parse fetched pages into (articles, rejects): malformed lines are
    QUARANTINED with their raw text and page_key, not silently dropped.

    explode(split(payload, '\\n')) gives one row per NDJSON line (A9) and
    from_json applies the declared schema (A8); the year comes from the
    page key, not a filename substring hack (A12, cf.
    extract_keywords_from_all_abstracts.py:92).

    At scale silent drops are invisible data loss — a feed change that
    breaks 1% of lines should surface as a countable rejects table, the
    declarative version of the reference's retry-marker string sniffing
    (job_pubmed_submit.py:47-49). Both outputs share one scan: the
    split/explode runs once, the good/bad split is two filters on the
    same parsed column.
    """
    lines = fetched.filter(F.col("payload").isNotNull()).select(
        "page_key",
        "year",
        F.explode(F.split("payload", "\n")).alias("line"),
    ).filter(F.length(F.trim("line")) > 0)
    parsed = lines.withColumn("rec", F.from_json("line", ARTICLE_JSON_SCHEMA))
    good = parsed.filter(F.col("rec.pmid").isNotNull()).select(
        F.col("rec.pmid").alias("pmid"),
        "year",
        F.col("rec.medent.abstract").alias("abstract"),
        "page_key",
    )
    bad = parsed.filter(F.col("rec.pmid").isNull()).select(
        "page_key", "year", F.col("line").alias("raw_line")
    )
    return good, bad
