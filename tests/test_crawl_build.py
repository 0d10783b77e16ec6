"""Fixed driver cost of a crawl batch: a warm batch compiles no generated
class, and the crawl path builds its plans in a pinned number of py4j
round trips.

The crawl-shaped chain is the refresh a crawl batch runs: WARC ingest,
the page-table write, the near-duplicate filter, the kept-page write, the
extraction and the triples write, over archives synthesized in-test."""

from __future__ import annotations

import os

import pytest

from dere_spark.operators.dedup import (
    filter_near_dups,
    near_dup_clusters,
    near_dup_stages,
    shingle_arrays,
)
from dere_spark.operators.graph import connected_components
from dere_spark.operators.triples import write_triples
from dere_spark.sources.documents import load_documents
from dere_spark.sources.warc import web_pages_from_warc
from dere_spark.webtext import extract_triples
from tests.conftest import py4j_round_trips
from tests.test_warc import _http_response, _record

#: page texts: three near-duplicate re-crawls of one page, two distinct pages
TEXTS = (
    "the fast join reads the customer table and the spark stream of rows",
    "the fast join reads the customer table and the spark stream of rows today",
    "the fast join reads the customer table and the spark stream of rows again",
    "sort the order table by key value then scan the small batch",
    "a slow hash group merges every column of the big data vector",
)


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    crawl = tmp_path_factory.mktemp("crawl")
    warc = b"".join(
        _record(
            "response",
            f"http://page-{i}.example/",
            f"2024-05-01T00:00:0{i}Z",
            _http_response(f"<html><body><p>{text}</p></body></html>".encode()),
            "application/http; msgtype=response",
        )
        for i, text in enumerate(TEXTS)
    )
    (crawl / "crawl.warc").write_bytes(warc)
    return str(crawl)


def _crawl_batch(spark, warc_dir: str, work: str) -> None:
    pages_dir, kept_dir = os.path.join(work, "pages"), os.path.join(work, "kept")
    web_pages_from_warc(spark, warc_dir).write.mode("overwrite").parquet(
        os.path.join(pages_dir, "documents.parquet")
    )
    docs = load_documents(spark, pages_dir)
    stages = near_dup_stages(shingle_arrays(docs.select("doc_id", "text"), n=3))
    kept = filter_near_dups(docs, near_dup_clusters(stages["verified"], threshold=0.8))
    kept.write.mode("overwrite").parquet(os.path.join(kept_dir, "documents.parquet"))
    write_triples(extract_triples(spark, kept_dir), os.path.join(work, "triples"))


def test_warm_crawl_batch_compiles_no_class(spark, warc_dir, tmp_path):
    """Spark keeps compiled generated classes in one JVM-wide LRU cache.
    A crawl batch needs more distinct classes than Spark's default 100
    entries, so at that size every warm batch evicted and recompiled
    most of them (107 in this chain's warm run);
    ``session.CODEGEN_CACHE_ENTRIES`` holds them all."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    work = str(tmp_path)
    _crawl_batch(spark, warc_dir, work)  # warm
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    _crawl_batch(spark, warc_dir, work)
    recompiled = metrics.METRIC_COMPILATION_TIME().getCount() - before
    assert recompiled == 0, f"a warm crawl batch compiled {recompiled} classes"
    kept = spark.read.parquet(os.path.join(work, "kept", "documents.parquet"))
    assert kept.count() == 3  # the re-crawls collapse onto one page


#: py4j round trips of a warm crawl-path build (``web_pages_from_warc``,
#: ``shingle_arrays``, ``near_dup_stages``) plus a ``connected_components``
#: call with one propagation round: measured 455 (pyspark 4.1.2) + 25%. The
#: same operators on the Column API made 3,482.
CRAWL_ROUND_TRIP_BUDGET = 569


def test_crawl_build_round_trip_budget(spark, warc_dir):
    """The crawl path's operators build their expressions as SQL text, so
    its plan construction stays within a pinned budget of py4j round trips
    (see test_plan_shape.test_build_stages_round_trip_budget). The edge
    (a, b) converges after one propagation round: the call builds the
    symmetric edge list, round 1, one round's join and aggregation, and
    observes that nothing changed."""
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")

    def build():
        pages = web_pages_from_warc(spark, warc_dir)
        near_dup_stages(shingle_arrays(pages.selectExpr("url AS doc_id", "text"), n=3))
        connected_components(edges)

    build()  # warm: imports, class loading, parser
    sent = py4j_round_trips(build)
    assert sent <= CRAWL_ROUND_TRIP_BUDGET, (
        f"the crawl-path build made {sent} py4j round trips "
        f"(budget {CRAWL_ROUND_TRIP_BUDGET})"
    )
