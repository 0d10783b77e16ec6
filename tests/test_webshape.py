"""The production input shape from BASELINE.json's input_hint —
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string) —
must run the full KG pipeline unchanged: url becomes doc_id, the binary
html payload must never reach a scan that doesn't ask for it, and the
extracted text is byte-identical end to end."""

from __future__ import annotations

import datetime
import re

import pyspark.sql.functions as F

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
