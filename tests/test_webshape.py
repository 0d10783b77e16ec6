"""The production input shape from BASELINE.json's input_hint —
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string) —
must run the full KG pipeline unchanged: url becomes doc_id, the binary
html payload must never reach a scan that doesn't ask for it, and the
extracted text is byte-identical end to end."""

from __future__ import annotations

import datetime
import os
import re

import pyspark.sql.functions as F
import pytest

from dere_spark.operators.tokenize import fidelity_violations, tokenize
from dere_spark.sources.documents import load_documents
from dere_spark.webtext import build_stages


def _write_web_table(spark, tmp_path):
    rows = [
        (
            f"https://example.com/page{i}",
            datetime.datetime(2026, 1, 1 + i % 3),
            bytes([i % 251]) * 64,  # opaque binary payload
            f"spark join table {i} and customer sort fast",
            "en",
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "web")
    df.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def test_web_shape_normalizes_and_extracts(spark, tmp_path):
    sf_dir = _write_web_table(spark, tmp_path)
    docs = load_documents(spark, sf_dir)
    assert docs.columns == ["doc_id", "text", "lang", "source"]
    assert docs.count() == 40
    # url is the identity
    assert docs.where(F.col("doc_id").startswith("https://")).count() == 40
    # the full pipeline runs and produces triples over url-keyed docs
    triples = build_stages(spark, sf_dir)["triples"]
    assert triples.count() > 0
    assert triples.where(F.col("doc_id").startswith("https://")).count() > 0


def test_html_binary_never_scanned(spark, tmp_path):
    sf_dir = _write_web_table(spark, tmp_path)
    plan = (
        build_stages(spark, sf_dir)["triples"]
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert "html" not in cols, f"binary payload reached a scan: {cols}"
        assert "warc_ts" not in cols


def test_web_shape_text_fidelity(spark, tmp_path):
    sf_dir = _write_web_table(spark, tmp_path)
    docs = load_documents(spark, sf_dir)
    assert fidelity_violations(docs, tokenize(docs)).count() == 0


def test_treebank_tokenizer_pipeline_on_punctuated_text(spark, tmp_path):
    """On punctuated web text the whitespace tokenizer glues terms to
    punctuation ("join," never matches the gazetteer); the treebank
    front door of ``build_stages`` recovers the extraction."""
    from dere_spark.operators.spans import detect_spans
    from dere_spark.webtext import GAZETTEERS

    rows = [
        (f"u{i}", f"spark join, table {i}. customer sort fast!", "en", "web")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, lang string, source string")
    out = str(tmp_path / "punct")
    df.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    ws_tokens = tokenize(load_documents(spark, out))
    assert ws_tokens.where(F.col("token") == "join,").count() == 20
    ws_spans = detect_spans(ws_tokens, GAZETTEERS)
    assert ws_spans.where(F.col("text").startswith("join")).count() == 0

    stages = build_stages(spark, out)
    assert stages["spans"].where(F.col("text") == "join").count() == 20
    # and the treebank path finds the comma-glued operator
    assert stages["triples"].where(F.col("pred").startswith("Operation")).count() > 0


def _documents_table(spark, tmp_path, shape: str):
    """A ``documents.parquet`` in one of the shapes ``load_documents``
    accepts -> (corpus dir, expected canonical rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / shape
    out.mkdir()
    table = str(out / "documents.parquet")
    n = 30
    ids = [f"https://example.com/p{i}" for i in range(n)] if "url" in shape else list(range(n))
    cols = {
        "url" if "url" in shape else "doc_id": ids,
        "text": [f"spark join table {i}" for i in range(n)],
        "lang": ["en"] * n,
    }
    if "with_source" in shape:
        cols["source"] = ["web"] * n
    if shape == "spark_dir_url":
        spark.createDataFrame(
            list(zip(*cols.values())), "url string, text string, lang string"
        ).coalesce(2).write.parquet(table)
        names = set(os.listdir(table))
        assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    else:
        pq.write_table(pa.table(cols), table)  # ints as int64, a single file
    source = cols.get("source", ["unknown"] * n)
    return str(out), sorted(zip(map(str, ids), cols["text"], cols["lang"], source))


@pytest.mark.parametrize(
    "shape", ["doc_id_with_source", "doc_id_without_source", "url_with_source", "spark_dir_url"]
)
def test_load_documents_shapes_without_a_job(spark, tmp_path, shape):
    """Every input shape (a bigint ``doc_id`` or a string ``url``, with or
    without ``source``, a single file or a Spark-written directory with
    ``_SUCCESS`` and ``.crc`` siblings) loads to the canonical schema and
    rows; the shape comes from a parquet footer read on the driver, so
    loading runs no Spark job."""
    sf_dir, expected = _documents_table(spark, tmp_path, shape)
    sc = spark.sparkContext
    group = f"load_documents_{shape}"
    sc.setJobGroup(group, "load_documents job count")
    try:
        docs = load_documents(spark, sf_dir)
        schema = docs.schema.simpleString()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert schema == "struct<doc_id:string,text:string,lang:string,source:string>"
    assert sorted(tuple(r) for r in docs.collect()) == expected
    pruned = load_documents(spark, sf_dir, columns=["source", "text"], partition_by_doc=False)
    assert pruned.columns == ["doc_id", "source", "text"]
    assert sorted(tuple(r) for r in pruned.collect()) == sorted(
        (d, s, t) for d, t, _l, s in expected
    )


def test_load_documents_rejects_unknown_and_missing_columns(spark, tmp_path):
    """Only ``source`` has a default: asking for a non-document column,
    or reading a table without ``text``, is an error, not a null column."""
    sf_dir, _ = _documents_table(spark, tmp_path, "doc_id_with_source")
    with pytest.raises(ValueError, match="not a document column"):
        load_documents(spark, sf_dir, columns=["html"])
    bare = str(tmp_path / "bare")
    spark.range(3).toDF("doc_id").write.parquet(f"{bare}/documents.parquet")
    with pytest.raises(ValueError, match="text"):
        load_documents(spark, bare)
