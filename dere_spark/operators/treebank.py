"""Treebank-parity offset tokenizer (F5).

The reference tokenizes with ``nltk.tokenize.TreebankWordTokenizer``
(pinned nltk==3.3 in the reference's setup.py), using ``span_tokenize``
for character offsets (dere/models/_baseline/span_classifier.py:25,265,
361,422). nltk is not installable here, so this module re-implements the
PUBLISHED nltk 3.3 algorithm — the Penn-Treebank sed-script regex chain
(MacIntyre's tokenizer.sed, distributed with nltk under Apache-2.0) plus
nltk's quote-back conversion and ``align_tokens`` offset recovery — from
the published description. Parity is pinned by recorded expected vectors
in tests/test_treebank.py (including nltk's own documented example).

Two implementations share this contract:

  * ``tokenize_treebank_sql`` — the shipped one (``webtext.build_stages``):
    the rule chain compiled to JVM ``regexp_replace`` expressions over
    whitespace words, with quote-back and offsets done by array
    higher-order functions. No token byte crosses the Python boundary.
  * ``tokenize_treebank`` — the parity reference: the regex chain applied
    whole-document in Python ``re`` inside an Arrow-batched
    ``mapInPandas`` kernel, with offsets from a monotone left-to-right
    alignment (every Treebank rule only inserts spaces between substrings
    of the original text, so each emitted token is a verbatim substring).
    Tests compare the shipped tokenizer against it.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Tuple

from pyspark.sql import DataFrame

from dere_spark.operators import sql_str
from dere_spark.operators.tokenize import tokenize

# --- the nltk 3.3 TreebankWordTokenizer rule chain (published) ----------

_STARTING_QUOTES = [
    (re.compile(r'^\"'), r"``"),
    (re.compile(r"(``)"), r" \1 "),
    (re.compile(r"([ \(\[{<])(\"|\'{2})"), r"\1 `` "),
]

_PUNCTUATION = [
    (re.compile(r"([:,])([^\d])"), r" \1 \2"),
    (re.compile(r"([:,])$"), r" \1 "),
    (re.compile(r"\.\.\."), r" ... "),
    (re.compile(r"[;@#$%&]"), r" \g<0> "),
    (re.compile(r'([^\.])(\.)([\]\)}>"\']*)\s*$'), r"\1 \2\3 "),
    (re.compile(r"[?!]"), r" \g<0> "),
    (re.compile(r"([^'])' "), r"\1 ' "),
]

_PARENS_BRACKETS = [(re.compile(r"[\]\[\(\)\{\}\<\>]"), r" \g<0> ")]

_DOUBLE_DASHES = [(re.compile(r"--"), r" -- ")]

_ENDING_QUOTES = [
    (re.compile(r'"'), " '' "),
    (re.compile(r"(\S)(\'\')"), r"\1 \2 "),
    (re.compile(r"([^' ])('[sS]|'[mM]|'[dD]|') "), r"\1 \2 "),
    (re.compile(r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1 \2 "),
]

# MacIntyreContractions (nltk 3.3)
_CONTRACTIONS2 = [
    re.compile(p)
    for p in (
        r"(?i)\b(can)(?#X)(not)\b",
        r"(?i)\b(d)(?#X)('ye)\b",
        r"(?i)\b(gim)(?#X)(me)\b",
        r"(?i)\b(gon)(?#X)(na)\b",
        r"(?i)\b(got)(?#X)(ta)\b",
        r"(?i)\b(lem)(?#X)(me)\b",
        r"(?i)\b(mor)(?#X)('n)\b",
        r"(?i)\b(wan)(?#X)(na)\s",
    )
]
_CONTRACTIONS3 = [
    re.compile(p) for p in (r"(?i) ('t)(?#X)(is)\b", r"(?i) ('t)(?#X)(was)\b")
]

_QUOTE_FINDER = re.compile(r"``|'{2}|\"")


def treebank_tokens(text: str) -> List[str]:
    """nltk 3.3 ``TreebankWordTokenizer.tokenize`` (convert_parentheses
    off, as the reference calls it)."""
    for regexp, substitution in _STARTING_QUOTES:
        text = regexp.sub(substitution, text)
    for regexp, substitution in _PUNCTUATION:
        text = regexp.sub(substitution, text)
    for regexp, substitution in _PARENS_BRACKETS:
        text = regexp.sub(substitution, text)
    for regexp, substitution in _DOUBLE_DASHES:
        text = regexp.sub(substitution, text)
    text = " " + text + " "
    for regexp, substitution in _ENDING_QUOTES:
        text = regexp.sub(substitution, text)
    for regexp in _CONTRACTIONS2:
        text = regexp.sub(r" \1 \2 ", text)
    for regexp in _CONTRACTIONS3:
        text = regexp.sub(r" \1 \2 ", text)
    return text.split()


def treebank_spans(text: str) -> List[Tuple[int, int]]:
    """nltk 3.3 ``span_tokenize``: tokenize, map converted quote tokens
    back to their raw source text, then align tokens left-to-right
    (nltk.tokenize.util.align_tokens).

    DELIBERATE ROBUSTNESS DEVIATION: nltk's align_tokens raises
    ValueError when a quote-rewritten form (`` / '') is GLUED inside a
    larger token or a literal `"` hides mid-token — adversarial but real
    on web text (found by tests/test_tokenizer_fuzz.py). Where nltk-3.3
    would crash, this aligner falls back to a regex that lets each
    rewritten quote form match any of its possible source spellings, so
    offsets always land on a verbatim source substring (the fidelity
    invariant) and no document can kill a 100 TB job. On any text nltk
    aligns, the output is identical to nltk's."""
    raw_tokens = treebank_tokens(text)

    def strict() -> List[Tuple[int, int]]:
        # nltk semantics: converted quote tokens are re-mapped to source
        # spellings in finder order, then aligned with str.index
        if ('"' in text) or ("''" in text):
            matched = [m.group() for m in _QUOTE_FINDER.finditer(text)]
            tokens = [
                matched.pop(0) if (tok in ('"', "``", "''") and matched) else tok
                for tok in raw_tokens
            ]
        else:
            tokens = raw_tokens
        point = 0
        out: List[Tuple[int, int]] = []
        for token in tokens:
            start = text.index(token, point)  # ValueError -> tolerant pass
            point = start + len(token)
            out.append((start, point))
        return out

    def tolerant() -> List[Tuple[int, int]]:
        # full realignment: every rewritten quote form inside any token
        # may match any of ITS possible source spellings (ADVICE r4). The
        # spellings follow the nltk 3.3 quote rules: `` arises from ``,
        # from a leading/post-bracket ", OR from a post-bracket '' (the
        # STARTING_QUOTES rule ([(\[{<])("|'{2}) — fuzz case "''b``''");
        # '' arises only from '' or " (no rule ever rewrites `` to '').
        # The substitution is a SINGLE pass with a callback: sequential
        # str.replace calls rewrote the '"' inside the just-inserted
        # alternations, nesting them into (?:''|(?:``|''|")) and letting
        # '' align to a source `` it can never come from.
        quote_forms = {
            "``": "(?:``|''|\")",
            "''": "(?:''|\")",
            '"': "(?:``|''|\")",
        }
        point = 0
        out: List[Tuple[int, int]] = []
        for token in raw_tokens:
            pat = re.sub(
                r"``|''|\"",
                lambda m: quote_forms[m.group()],
                re.escape(token),
            )
            m = re.compile(pat).search(text, point)
            if m is None:  # pragma: no cover - alignment truly impossible
                raise ValueError(f"cannot align {token!r} in {text!r}")
            point = m.end()
            out.append((m.start(), m.end()))
        return out

    try:
        return strict()
    except ValueError:
        return tolerant()


def _rr(w: str, pattern: str, replacement: str) -> str:
    return f"regexp_replace({w}, {sql_str(pattern)}, {sql_str(replacement)})"


def _when(cond: str, then: str, otherwise: str) -> str:
    return f"CASE WHEN {cond} THEN {then} ELSE {otherwise} END"


def _treebank_rule_chain(word: str, is_first: str, is_last: str) -> str:
    """The nltk 3.3 rule chain over ONE whitespace-delimited word, as Spark
    SQL text (Java regex). Rules never merge across whitespace —
    they only insert it — so applying the chain per word is equivalent to
    applying it to the full text, with two text-anchored rules gated on
    the first/last word (``^"`` and the final-period splitter) and the
    end-anchored variants standing in for "followed by a space" on
    non-final words. Replacements use Java's ``$n`` group syntax; inline
    ``(?#X)`` comments from the published patterns are dropped (Java has
    no regex comments); otherwise the patterns are the nltk 3.3 chain
    verbatim, in order."""
    w = _when(is_first, _rr(word, r'^"', "``"), word)
    # STARTING_QUOTES 2-3 (the space class gains ^: word-initial == after
    # an original inter-word space)
    w = _rr(w, r"(``)", " $1 ")
    w = _rr(w, r"(^|[ \(\[{<])(\"|'{2})", "$1 `` ")
    # PUNCTUATION
    w = _rr(w, r"([:,])([^\d])", " $1 $2")
    w = _rr(w, r"([:,])$", " $1 ")
    w = _rr(w, r"\.\.\.", " ... ")
    w = _rr(w, r"[;@#$%&]", " $0 ")
    w = _when(is_last, _rr(w, r'([^\.])(\.)([\]\)}>"\']*)\s*$', "$1 $2$3 "), w)
    w = _rr(w, r"[?!]", " $0 ")
    w = _when(
        is_last,  # text-final quote keeps nltk's no-trailing-space no-op
        _rr(w, r"([^'])' ", "$1 ' "),
        _rr(w, r"([^'])'( |$)", "$1 ' $2"),
    )
    # PARENS_BRACKETS + DOUBLE_DASHES
    w = _rr(w, r"[\]\[\(\)\{\}<>]", " $0 ")
    w = _rr(w, r"--", " -- ")
    # nltk pads before the ending-quote/contraction rules
    w = f"concat(' ', {w}, ' ')"
    # ENDING_QUOTES
    w = _rr(w, r'"', " '' ")
    w = _rr(w, r"(\S)('')", "$1 $2 ")
    w = _rr(w, r"([^' ])('[sS]|'[mM]|'[dD]|') ", "$1 $2 ")
    w = _rr(w, r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) ", "$1 $2 ")
    # MacIntyre contractions
    for pat in (
        r"(?i)\b(can)(not)\b",
        r"(?i)\b(d)('ye)\b",
        r"(?i)\b(gim)(me)\b",
        r"(?i)\b(gon)(na)\b",
        r"(?i)\b(got)(ta)\b",
        r"(?i)\b(lem)(me)\b",
        r"(?i)\b(mor)('n)\b",
        r"(?i)\b(wan)(na)\s",
        r"(?i) ('t)(is)\b",
        r"(?i) ('t)(was)\b",
    ):
        w = _rr(w, pat, " $1 $2 ")
    return w


#: Pure-alphanumeric words no rule can touch — except the all-letter
#: contractions, which must take the slow path.
_LETTER_CONTRACTIONS = ("cannot", "gimme", "gonna", "gotta", "lemme", "wanna")
#: the converted-quote tokens, as an SQL IN list
_QUOTE_TOKENS = "(" + ", ".join(sql_str(q) for q in ('"', "``", "''")) + ")"


def tokenize_treebank_sql(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Treebank tokenization entirely JVM-side — the webtext default.

    Physical strategy: every byte stays in the JVM (an r2 A/B showed the
    Python->JVM Arrow IPC of the full token stream losing to a JVM
    shuffle): whitespace words come from the existing windowed
    ``tokenize`` (single doc_id exchange, reused downstream), then each
    word is sub-split by the nltk 3.3 rule chain compiled to
    ``regexp_replace`` expressions, with quote-back conversion and offsets
    done by array higher-order functions. Sub-token offsets are per-word
    prefix sums — exact, because after quote-back the sub-tokens partition
    the word's characters (Treebank rules only insert whitespace). A fast
    path skips the ~30-regex chain for purely alphanumeric words (the
    overwhelming majority of web tokens).

    Every expression is SQL text: the rule chain as one Column-API tree
    cost ~300 py4j round trips per plan build, as one string it costs a
    handful.

    Parity: equals the recorded-nltk-3.3 Arrow kernel (`tokenize_treebank`)
    on every recorded vector and fixture (tests/test_treebank.py). Known
    deviations, documented: (a) punctuation abutting a TAB/NEWLINE is
    treated as space-adjacent (nltk's literal-space contexts see the real
    character); (b) nltk's quote-back pops finder matches across word
    boundaries in the pathological embedded-unconsumed-quote case — this
    variant stays word-local. Neither occurs in the reference corpora or
    the recorded vectors.
    """
    fast = (
        "NOT (token RLIKE '[^A-Za-z0-9]') AND NOT (lower(token) IN ("
        + ", ".join(sql_str(c) for c in _LETTER_CONTRACTIONS)
        + "))"
    )
    chain = _treebank_rule_chain("token", "token_idx = 0", "token_idx = _last_idx")
    raw = _when(fast, "array(token)", f"filter(split({chain}, ' ', -1), t -> t != '')")
    # quote-back (nltk span_tokenize): the i-th converted-quote token maps
    # to the i-th quote-finder match in the ORIGINAL word, restoring the
    # verbatim substring so offsets stay exact. Gated on quote presence so
    # the regexp_extract_all + transform run only on quote-bearing words.
    quote_finder = sql_str("``|''|\"")
    has_quote = f"_word RLIKE {quote_finder}"
    quote_back = (
        f"transform(_raw, (t, i) -> CASE WHEN t IN {_QUOTE_TOKENS} THEN element_at(_qm, "
        f"size(filter(slice(_raw, 1, i + 1), x -> x IN {_QUOTE_TOKENS}))) ELSE t END)"
    )
    # global token numbering as a WORD-level prefix sum over sub-token
    # counts: same partition key + sort order as the tokenize window, so
    # Catalyst reuses one exchange + one sort (a row_number over the
    # exploded sub-token stream would pay a second, bigger sort). Later
    # expressions of one selectExpr refer to earlier aliases, except
    # inside a window expression.
    return (
        tokenize(documents, sep=r"[\s]", text_col=text_col, sep_len=1)
        .selectExpr(
            "doc_id",
            "max(CASE WHEN length(token) > 0 THEN token_idx END) "
            "OVER (PARTITION BY doc_id) AS _last_idx",
            "token_idx AS _widx",
            "`left` AS _wleft",
            "token AS _word",
            f"{raw} AS _raw",
            f"CASE WHEN {has_quote} THEN regexp_extract_all(_word, {quote_finder}, 0) "
            "END AS _qm",
            f"filter({_when(has_quote, quote_back, '_raw')}, t -> length(t) > 0) AS _fixed",
            "transform(_fixed, t -> length(t)) AS _lens",
        )
        .selectExpr(
            "doc_id",
            "_wleft",
            "_lens",
            "_fixed",
            "coalesce(sum(size(_fixed)) OVER (PARTITION BY doc_id ORDER BY _widx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _base_idx",
        )
        .selectExpr(
            "doc_id", "_base_idx", "_wleft", "_lens", "posexplode(_fixed) AS (_sidx, token)"
        )
        .selectExpr(
            "doc_id",
            "CAST(_base_idx + _sidx AS INT) AS token_idx",
            "token",
            "CAST(_wleft + aggregate(slice(_lens, 1, _sidx), 0, (a, x) -> a + x) AS INT) "
            "AS `left`",
            "CAST(`left` + length(token) AS INT) AS `right`",
        )
    )


def tokenize_treebank(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """documents(doc_id, text, ...) -> tokens(doc_id, token_idx, token,
    left, right) with Treebank segmentation and exact offsets.

    Same output contract as ``tokenize``/``tokenize_treebank_sql`` (the fidelity
    invariant ``substring(text, left+1, right-left) == token`` holds), so
    it drops into every downstream operator unchanged.
    """
    import pandas as pd

    doc_id_type = documents.schema["doc_id"].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_tok, out_l, out_r = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None:
                    continue
                for i, (l, r) in enumerate(treebank_spans(text)):
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_tok.append(text[l:r])
                    out_l.append(l)
                    out_r.append(r)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype=pdf["doc_id"].dtype),
                    "token_idx": pd.Series(out_idx, dtype="int32"),
                    "token": pd.Series(out_tok, dtype="object"),
                    "left": pd.Series(out_l, dtype="int32"),
                    "right": pd.Series(out_r, dtype="int32"),
                }
            )

    return documents.select("doc_id", text_col).mapInPandas(
        kernel,
        f"doc_id {doc_id_type}, token_idx int, token string, left int, right int",
    )
