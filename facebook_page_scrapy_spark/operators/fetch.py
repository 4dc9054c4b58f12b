"""Fetch stage — pluggable; the sandbox fetcher joins the dispatch batch
against a synthetic corpus table (closed world), replacing the reference's
Scrapy/Twisted downloader (``Facebook_group_post.py:115-119``; Splash
middleware ``settings.py:29-41`` — dropped, SURVEY non-goals).

The contract any real fetcher must satisfy: input = dispatch batch (frontier
columns), output = same rows + ``html`` (nullable) + ``fetch_ok`` boolean.
A real HTTP fetcher would be a ``mapInPandas`` batch UDF partitioned by host
(connection reuse per partition); the politeness gate has already bounded
rows-per-host upstream, so the fetch stage needs no rate logic of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CorpusFetcher:
    """Closed-world fetch: equi-join on url_canon against a corpus table.

    The corpus side is keyed by canonical URL. The join broadcasts the
    *dispatch batch* when small (per-round batches are budget-bounded), so the
    big corpus never shuffles — at scale the corpus is bucketed by
    hash(url_canon) and AQE picks the strategy.
    """

    def __init__(self, corpus: DataFrame):
        # corpus: doc_id, url, fetched_ts, html (schemas.RAW_PAGES)
        self._corpus = corpus.select(
            F.col("url").alias("__corpus_url"), F.col("doc_id").alias("__doc_id"), "html"
        )

    def fetch(self, dispatch: DataFrame) -> DataFrame:
        joined = dispatch.join(
            self._corpus, dispatch["url_canon"] == F.col("__corpus_url"), "left"
        )
        return (
            joined.withColumn("fetch_ok", F.col("html").isNotNull())
            .withColumn("doc_id", F.coalesce(F.col("__doc_id"), F.col("url_canon")))
            .withColumn("fetched_ts", F.lit(0).cast("long"))  # closed world: no clock
            .drop("__corpus_url", "__doc_id")
        )
