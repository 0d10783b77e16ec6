"""Span detection — gazetteer detector as a broadcast-hash join.

The reference's span stage has two feature sources: token shape features
and per-type gazetteer membership (dere/models/_baseline/span_classifier.py:294-322,
gazetteer file model-specs/training_gazetteer_bionlp). Its deterministic
core — "token surface form is in the gazetteer for type T" — is exactly a
broadcast dictionary join, which is how we run it: the gazetteer is a tiny
dimension DataFrame, broadcast to every executor, joined against the token
stream with zero shuffle of the big side.

Output schema mirrors the reference Span (dere/corpus.py:174-220):
identity = (doc_id, span_type, left, right); ``text`` is the surface form,
derivable as substring(doc.text, left+1, right-left) byte-identically.

A trained sequence-labeler (CRF-style BIO tagger) slots into the same
output contract via `dere_spark.operators.bio` + a batched Arrow UDF; the
gazetteer path needs no Python at all.
"""

from __future__ import annotations

from typing import Dict, Iterable, Mapping, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def gazetteer_df(
    spark: SparkSession, gazetteers: Mapping[str, Iterable[str]]
) -> DataFrame:
    """Gazetteer dimension table: (term, span_type). Lowercased terms,
    matching the reference's lowercased membership test
    (span_classifier.py:316-319).

    Built with ``createDataFrame`` on purpose: its RDD makes every plan
    built on it distinct. Spark's cache manager substitutes any persisted
    plan that is semantically equal, so a gazetteer that compares equal
    across builds (an inline ``VALUES`` table) lets an uncached
    ``webtext.build_stages`` read the spans and triples that
    ``webtext.cached_stages`` persisted for the same path: stale after a
    rewrite, and not the uncached pipeline the flagship timings measure."""
    rows = [
        (term.lower(), span_type)
        for span_type, terms in sorted(gazetteers.items())
        for term in sorted(set(terms))
    ]
    return spark.createDataFrame(rows, "term string, span_type string")


def detect_spans(tokens: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """tokens × broadcast(gazetteer) -> spans.

    spans(doc_id, token_idx, span_type, left, right, text, source='predicted')

    The join key is the lowercased surface form; the gazetteer side is
    explicitly broadcast so the plan is a BroadcastHashJoin — the token
    stream never shuffles.
    """
    return tokens.join(
        F.broadcast(gazetteer), F.expr("lower(token) = term"), "inner"
    ).selectExpr(
        "doc_id",
        "token_idx",
        "span_type",
        "`left`",
        "`right`",
        "token AS text",
        "'predicted' AS source",
    )


def strip_source(df: DataFrame, source: str = "gold") -> DataFrame:
    """Provenance filter: drop rows with the given source tag.

    Reference: Corpus.strip_gold deletes gold-sourced spans/frames before
    prediction (dere/corpus.py:161-171); evaluation conversely ignores
    'given' annotations (dere/evaluation.py:18-21).

    Null-safe: a row with source=NULL is NOT the stripped tag and is
    kept (a plain ``!=`` comparison would silently drop it — NULL != x
    is NULL, which `where` treats as false).
    """
    return df.where(~F.col("source").eqNullSafe(source))
