"""Text-analysis operators for training-data pipelines.

All pure Spark builtins (regex/length/split/hash) — no Python in the hot
path; every operator is oracle-checkable against DuckDB.

  * `language_id` — n-gram/stopword-overlap heuristic: score each candidate
    language by the fraction of the document's tokens found in that
    language's marker set (tiny broadcast dimension), argmax with
    deterministic tie-break;
  * `quality_scores` — length/stopword/type-token/alpha-ratio features and
    a composite quality score (the usual pretraining-filter features);
  * `token_stats` — whitespace tokens plus a BPE-ish subword estimate from
    a regex segmentation (letters / digits / other runs);
  * `fingerprint` — order-insensitive content fingerprint: md5 over the
    sorted distinct token multiset (the classic "fingerprint" dedup key);
    rolling/positional variant via per-window hashing.
"""

from __future__ import annotations

from typing import Dict, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: marker tokens per language for the synthetic corpus heuristic — stands in
#: for character-n-gram profiles of a real lang-id model.
DEFAULT_MARKERS: Dict[str, Sequence[str]] = {
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "valor", "tabla"),
    "de": ("der", "die", "das"),
    "fr": ("le", "la", "les"),
    "zh": ("zh",),
}


def language_id(tokens: DataFrame, markers: DataFrame) -> DataFrame:
    """tokens(doc_id, token) x broadcast(markers) -> (doc_id, pred_lang, score).

    score(lang) = matching tokens / total tokens; argmax with lexicographic
    tie-break; docs with no marker hits get pred_lang='und', score 0.
    """
    totals = tokens.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    hits = (
        tokens.join(F.broadcast(markers), F.lower(tokens["token"]) == markers["marker"])
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("cand_lang").asc()
    )
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "cand_lang", "n_hits")
    )
    return (
        totals.join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cand_lang", F.lit("und")).alias("pred_lang"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("lang_score"),
        )
    )


def token_count_exprs(
    text_col: str = "text", stopwords: Sequence[str] = ("the", "a")
) -> Dict[str, "F.Column"]:
    """THE per-row token-stat kernel (r7): whitespace-token counts as
    array expressions over split(text, ' ') — count -> size,
    countDistinct -> size∘array_distinct, conditional counts ->
    size∘filter, sum(len) -> aggregate. One definition shared by
    `quality_scores` and the text_quality gate so the tokenization and
    NULL handling cannot drift between them; callers must filter
    NULL-text rows themselves (matching the old explode's drop)."""
    toks = F.split(text_col, " ", -1)
    return {
        "n_tokens": F.size(toks),
        "n_types": F.size(F.array_distinct(toks)),
        "n_stopwords": F.size(F.filter(toks, lambda t: t.isin(*stopwords))),
        "n_alpha": F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))),
        "sum_len": F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ),
    }


def quality_scores(documents: DataFrame, stopwords: Sequence[str] = ("the", "a")) -> DataFrame:
    """Per-document pretraining-filter features, integers/exact ratios.

    Per-row since r7 (guide §2.4): every feature is a function of the
    document's own token array (token_count_exprs), so the explode +
    groupBy(doc_id) shape (which shuffled the whole token stream) is
    replaced by array expressions riding the scan. Integer counts divide
    to the same doubles, so the rounded ratios are bit-identical;
    NULL-text docs emitted no token rows before and are filtered
    identically here."""
    c = token_count_exprs("text", stopwords)
    n_tokens = c["n_tokens"]
    return documents.where(F.col("text").isNotNull()).select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(c["n_types"] / n_tokens, 6).alias("type_token_ratio"),
        F.round(c["n_stopwords"] / n_tokens, 6).alias("stopword_ratio"),
        F.round(c["n_alpha"] / n_tokens, 6).alias("alpha_ratio"),
        F.round(c["sum_len"] / n_tokens, 6).alias("mean_token_len"),
    )


def language_id_rowwise(
    documents: DataFrame, markers: Dict[str, Sequence[str]] | None = None
) -> DataFrame:
    """Per-row language ID: documents(doc_id, text) -> (doc_id, pred_lang,
    lang_score) with zero joins and zero shuffles (r7, guide §2.4).

    Same contract as ``language_id`` over exploded tokens: score(lang) =
    |tokens with lower(token) ∈ markers[lang]| / |tokens|, argmax with
    lexicographic tie-break, 'und' (score 0) when no marker hits. The
    marker sets are literal constants (the broadcast dimension of the
    join formulation), so per-lang hit counts are size∘filter over the
    token array and the argmax is array_max over (n_hits, rank) structs
    — rank descends in lexicographic lang order, making the max unique
    and the tie-break identical to row_number(ORDER BY n_hits DESC,
    cand_lang ASC). NULL-text docs emitted no token rows before ->
    filtered identically here."""
    marks = {k: sorted(set(v)) for k, v in (markers or DEFAULT_MARKERS).items()}
    langs = sorted(marks)
    toks = F.split("text", " ", -1)

    def _is_marker(lang: str):
        terms = marks[lang]
        return lambda t: F.lower(t).isin(*terms)

    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, _is_marker(lang))).alias("n"),
                F.lit(len(langs) - rank).alias("r"),
                F.lit(lang).alias("lang"),
            )
            for rank, lang in enumerate(langs)
        ]
    )
    best = F.array_max(scored)
    return documents.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.when(best["n"] > 0, best["lang"]).otherwise(F.lit("und")).alias("pred_lang"),
        F.round(best["n"] / F.size(toks), 6).alias("lang_score"),
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate.

    Subword segmentation regex: runs of lowercase letters, runs of digits,
    or single other chars — a deterministic proxy for byte-pair counts.
    """
    return documents.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).alias("n_ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).alias("n_subwords"),
        F.length("text").alias("n_chars"),
    )


def content_fingerprint(documents: DataFrame) -> DataFrame:
    """Order-insensitive fingerprint: md5 of sorted distinct tokens.

    Catches token-permutation near-duplicates that exact hashing misses.
    """
    return documents.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split("text", " ", -1)))
            )
        ).alias("fingerprint"),
    )
