"""Document-corpus source.

Production shape (per BASELINE.json input_hint): an Iceberg table of
Common-Crawl-style web pages with columns
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``,
partitioned by ``days(warc_ts)`` + ``bucket(url)``. In the sandbox the
driver ships parquet tables with ``(doc_id, text, lang, source, n_chars)``;
``load_documents`` normalizes either shape to the canonical one so every
downstream stage sees a single schema.

Text-extraction invariant: the ``text`` column is NEVER mutated in place —
byte-identical extracted text per url is a hard gate (reference analog: the
load-time round-trip assertion in
/root/reference/dere/corpus_io/brat_corpus_io.py:158). Derived/normalized
text lives in derived columns only.

Scale notes: reading goes through the DataFrame reader so Catalyst pushes
filters and prunes columns into the scan — pass ``columns`` to keep the
``html:binary`` payload out of stages that only need text.
"""

from __future__ import annotations

from typing import Iterable, Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

#: canonical document schema (column order)
DOCUMENT_COLUMNS = ("doc_id", "text", "lang", "source")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver's parquet tables; Iceberg catalogs would be
    ``spark.read.table(f"{catalog}.{name}")`` — same downstream plan."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_documents(
    spark: SparkSession,
    sf_dir: str,
    columns: Optional[Iterable[str]] = None,
    partition_by_doc: bool = True,
) -> DataFrame:
    """Canonical `documents` DataFrame: doc_id:string, text, lang, source.

    ``doc_id`` is the document's stable identity (url in production); cast
    to string so parquet bigint ids and real urls share a plan. Selecting
    only ``columns`` (plus doc_id) lets Catalyst prune the scan.

    ``partition_by_doc`` hash-partitions the corpus on doc_id with the
    session's shuffle-partition count. This is the ONE shuffle the pipeline
    pays up front: every downstream stage (tokenize, span detect, the
    candidate-pair window, frame assembly) is keyed by doc_id, so a single
    up-front exchange co-locates the whole per-document dataflow and no
    later stage needs a further exchange. It also fixes the small-file case
    where a 1-partition scan would serialize the CPU-heavy explode. On an
    Iceberg corpus bucketed by url this becomes a no-op (storage-partitioned
    scan already satisfies the distribution).
    """
    df = load_table(spark, sf_dir, "documents")
    if "url" in df.columns and "doc_id" not in df.columns:
        df = df.withColumnRenamed("url", "doc_id")
    if "source" not in df.columns:
        df = df.withColumn("source", F.lit("unknown"))
    df = df.selectExpr("CAST(doc_id AS STRING) AS doc_id", "text", "lang", "source")
    if columns is not None:
        keep = ["doc_id"] + [c for c in columns if c != "doc_id"]
        df = df.select(*keep)
    if partition_by_doc:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        df = df.repartition(n, "doc_id")
    return df
