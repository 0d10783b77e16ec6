"""Span detection — the gazetteer detector as an inline map lookup.

The reference's span stage has two feature sources: token shape features
and per-type gazetteer membership (dere/models/_baseline/span_classifier.py:294-322,
gazetteer file model-specs/training_gazetteer_bionlp). Its deterministic
core — "token surface form is in the gazetteer for type T" — is a
dictionary lookup, which is how we run it: the gazetteer is compiled into
a constant ``map(term -> array(span types))`` and every token looks up its
lowercased surface in one generator over the token stream. One row per
(token, type) comes out, the rows a dimension join would give, with no
join, no broadcast job and no exchange beyond the corpus's doc_id one.

Lost A/B, kept as numbers: the gazetteer (and the entity dictionary of
operators/triples.py) as a broadcast dimension join. Each broadcast is a
Spark job of its own that competes with the scan for the cores; kg_dense
``extract_triples`` + ``write_triples`` (4 vCPU, local[4], 10 interleaved
pairs, seed 303) ran 2.35 s median with both dictionaries broadcast and
2.08 s with both inline (see operators/frames.py for the whole A/B).

Output schema mirrors the reference Span (dere/corpus.py:174-220):
identity = (doc_id, span_type, left, right); ``text`` is the surface form,
derivable as substring(doc.text, left+1, right-left) byte-identically.

A trained sequence-labeler (CRF-style BIO tagger) slots into the same
output contract via `dere_spark.operators.bio` + a batched Arrow UDF; the
gazetteer path needs no Python at all.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Mapping

from pyspark.sql import DataFrame

from dere_spark.operators import sql_str


def detect_spans(tokens: DataFrame, gazetteers: Mapping[str, Iterable[str]]) -> DataFrame:
    """tokens -> spans(doc_id, token_idx, span_type, left, right, text,
    source='predicted').

    ``gazetteers`` maps a span type to its terms. Membership is tested on
    the lowercased surface, as the reference does (span_classifier.py:316-319);
    a term listed under two types gives two spans, a NULL token none.
    """
    types: Dict[str, List[str]] = {}
    for span_type, terms in sorted(gazetteers.items()):
        for term in sorted({t.lower() for t in terms}):
            types.setdefault(term, []).append(span_type)
    lookup = ", ".join(
        f"{sql_str(term)}, array({', '.join(map(sql_str, ts))})"
        for term, ts in sorted(types.items())
    )
    return tokens.selectExpr(
        "doc_id",
        "token_idx",
        f"explode(element_at(CAST(map({lookup}) AS MAP<STRING, ARRAY<STRING>>), "
        "lower(token))) AS span_type",
        "`left`",
        "`right`",
        "token AS text",
        "'predicted' AS source",
    )
