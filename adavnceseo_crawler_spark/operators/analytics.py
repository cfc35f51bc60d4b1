"""Crawl analytics views (A1-A3) over the engine's own tables.

The reference exposes these through ES aggregations
(elasticsearch_storage.py:113-140), a Postgres GROUP BY
(postgres_storage.py:148-170) and the JS stats endpoint (server.js:153-216);
here each is a one-liner DataFrame aggregation over pages/crawl_log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_histogram(crawl_log: DataFrame) -> DataFrame:
    """A1: date_histogram(timestamp, day)."""
    return crawl_log.groupBy(
        "host", F.to_date(F.date_trunc("day", "fetched_ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))


def domain_stats_sql(crawl_log: DataFrame) -> DataFrame:
    """A2: postgres_storage.py:148-170 shape."""
    return crawl_log.groupBy("host").agg(
        F.count(F.lit(1)).alias("page_count"),
        F.round(F.avg("content_length"), 2).alias("avg_content_length"),
        F.round(F.avg("crawl_time"), 4).alias("avg_crawl_time"),
        F.countDistinct("status_code").alias("status_code_count"),
        F.max("fetched_ts").alias("last_crawled"),
    )


def top_domains(crawl_log: DataFrame, k: int = 10) -> DataFrame:
    """A3: terms(domain, size=10) + sub-aggs (server.js:164-184)."""
    return (
        crawl_log.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("crawl_time"), 4).alias("avg_crawl_time"),
            F.round(F.avg("content_length"), 2).alias("avg_content_length"),
        )
        .orderBy(F.desc("n"), F.asc("host"))
        .limit(k)
    )
