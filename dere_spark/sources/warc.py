"""WARC ingestion: Common-Crawl-style web archives -> the canonical page table.

Beyond-reference operator (LLM-data-pipeline family — the reference engine
has no web front door; its corpora arrive as BRAT/XML annotation dirs).
This module provides the ingest step the north rule's production shape
implies: raw ``.warc`` / ``.warc.gz`` archives (ISO 28500; the public
Common Crawl distribution format) parsed into the BASELINE input-hint
table ``(url:string, warc_ts:timestamp, html:binary, text:string,
lang:string)``.

Scale shape
-----------
* ``spark.read.format("binaryFile")`` yields ONE ROW PER ARCHIVE — the
  natural Common-Crawl unit of parallelism (a 100 TB crawl is ~100k
  ~1 GiB archives, i.e. ~100k independent tasks; no shuffle is involved
  in ingest at all, and re-partitioning happens downstream on doc_id as
  usual).  A whole archive is held in executor memory while parsed —
  exactly how CC archives are sized to be processed — and
  ``max_payload_bytes`` caps any single record's payload with a LOUD
  ``truncated`` flag (no silent caps).
* The record parser runs inside ``mapInPandas`` — Arrow-batched at file
  granularity, not per-row Python over records of a DataFrame.
* ``html_to_text`` is a pure Catalyst ``regexp_replace`` chain (JVM,
  whole-stage codegen) — the baseline extractor for the ``text`` column.
  It is deterministic and order-free; a browser-grade extractor would
  slot into the same column contract.

The output schema IS the input-hint schema, so ``web_pages_from_warc``
feeds ``sources/documents.load_documents`` (which normalizes the web
shape) and everything downstream without further adaptation.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from typing import Iterator, Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

#: parsed-record schema (one row per WARC record of a requested type)
WARC_RECORD_SCHEMA = (
    "url string, warc_ts timestamp, warc_type string, content_type string, "
    "html binary, truncated boolean, warc_file string, record_index int"
)

_GZIP_MAGIC = b"\x1f\x8b"


def _decompress_members(data: bytes) -> bytes:
    """Decompress a (possibly multi-member) gzip stream.

    Common Crawl ``.warc.gz`` files are CONCATENATED gzip members, one per
    record, so plain ``gzip.decompress`` semantics (which do handle
    multi-member streams) are reproduced here with an explicit loop that
    also tolerates trailing garbage after the last member."""
    out = []
    buf = data
    while buf[:2] == _GZIP_MAGIC:
        d = zlib.decompressobj(wbits=31)
        out.append(d.decompress(buf))
        if not d.eof:  # truncated member: keep what decoded, stop
            break
        buf = d.unused_data
    return b"".join(out) if out else data


def _parse_warc_date(value: str) -> Optional[datetime]:
    """WARC-Date is ISO-8601 UTC; WARC/1.1 allows fractional seconds."""
    value = value.strip()
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return datetime.strptime(value, fmt).replace(tzinfo=timezone.utc)
        except ValueError:
            continue
    return None


def _split_http_payload(block: bytes) -> tuple[str, bytes]:
    """Split an HTTP message block into (status+headers text, body bytes).

    First separator wins — an LF-only header block whose BODY contains a
    CRLFCRLF must split at the earlier LFLF, same disambiguation as the
    record framer."""
    crlf = block.find(b"\r\n\r\n")
    lf = block.find(b"\n\n")
    if crlf < 0 and lf < 0:
        return "", block
    if crlf >= 0 and (lf < 0 or crlf <= lf):
        sep, sep_len = crlf, 4
    else:
        sep, sep_len = lf, 2
    return block[:sep].decode("latin-1", "replace"), block[sep + sep_len :]


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Parse one (decompressed) WARC stream into record dicts.

    Framing per ISO 28500: ``WARC/1.x`` version line, CRLF header lines to
    an empty line, ``Content-Length`` bytes of block, two CRLFs.  Lenient
    on LF-only line endings and on junk between records (re-syncs on the
    next ``WARC/`` marker) — real crawl archives contain both."""
    pos, idx = 0, 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        head_end = data.find(b"\r\n\r\n", start)
        sep_len = 4
        alt = data.find(b"\n\n", start)
        if head_end < 0 or (0 <= alt < head_end):
            head_end, sep_len = alt, 2
        if head_end < 0:
            return
        headers: dict = {}
        head_lines = data[start:head_end].decode("latin-1", "replace").splitlines()
        for line in head_lines[1:]:  # line 0 is the version line
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:  # missing/garbage/negative framing: re-sync forward
            # (a negative length must not reach the position arithmetic —
            # bytes.find treats a negative start as end-relative, which
            # would re-parse the same record forever)
            pos = head_end + sep_len
            continue
        block_start = head_end + sep_len
        block = data[block_start : block_start + length]
        yield {
            "index": idx,
            "type": headers.get("warc-type", ""),
            "url": headers.get("warc-target-uri"),
            "date": headers.get("warc-date", ""),
            "content_type": headers.get("content-type", ""),
            "block": block,
        }
        idx += 1
        pos = block_start + length


def load_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple = ("response",),
    max_payload_bytes: int = 8 * 1024 * 1024,
) -> DataFrame:
    """Parse WARC archives under ``path`` into one row per kept record.

    Output: ``WARC_RECORD_SCHEMA``.  For ``response`` records carrying an
    HTTP message, ``html`` is the HTTP BODY (headers stripped); for other
    kept types it is the raw block.  Payloads longer than
    ``max_payload_bytes`` are cut with ``truncated=true`` — the cap is in
    the row, never silent.  One archive = one task; see module docstring.
    """
    kept = tuple(record_types)
    cap = int(max_payload_bytes)

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = _decompress_members(bytes(content))
                for rec in iter_warc_records(data):
                    if rec["type"] not in kept:
                        continue
                    block = rec["block"]
                    if rec["type"] == "response" and rec["content_type"].startswith(
                        "application/http"
                    ):
                        _http_head, block = _split_http_payload(block)
                    truncated = len(block) > cap
                    rows.append(
                        {
                            "url": rec["url"],
                            "warc_ts": _parse_warc_date(rec["date"]),
                            "warc_type": rec["type"],
                            "content_type": rec["content_type"],
                            "html": block[:cap],
                            "truncated": truncated,
                            "warc_file": fpath,
                            "record_index": rec["index"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url",
                    "warc_ts",
                    "warc_type",
                    "content_type",
                    "html",
                    "truncated",
                    "warc_file",
                    "record_index",
                ],
            )

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(parse, WARC_RECORD_SCHEMA)


#: html entities decoded by the baseline extractor (the ones that occur in
#: running text; numeric references are left as-is by design — the column
#: contract allows a richer extractor to replace this expression wholesale)
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
)


def decode_entities(text: Column) -> Column:
    """Decode the common named html entities (shared by ``html_to_text``
    and the boilerplate block scorer; ``&amp;`` is applied last so
    ``&amp;lt;`` decodes to ``&lt;``, not ``<``)."""
    for ent, repl in _ENTITIES:
        text = F.replace(text, F.lit(ent), F.lit(repl))
    return text


def html_to_text(html: Column) -> Column:
    """Baseline html -> text extraction as a Catalyst expression chain.

    Drops <script>/<style> subtrees and <!-- comments -->, replaces every
    remaining tag with a space, decodes the common named entities, and
    collapses whitespace.  Entirely ``regexp_replace``/``replace`` on the
    JVM — no Python in the hot path; runs inside whole-stage codegen."""
    text = html.cast("string")
    text = F.regexp_replace(text, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    text = F.regexp_replace(text, r"(?s)<!--.*?-->", " ")
    text = F.regexp_replace(text, r"(?s)<[^>]*>", " ")
    text = decode_entities(text)
    text = F.regexp_replace(text, r"\s+", " ")
    return F.trim(text)


def _lang_expr(text: Column, markers: dict) -> Column:
    """Map-side marker language-ID over one text column.

    Same decision rule as ``operators/text.language_id`` (most marker
    hits wins, lexicographic ascending tie-break, 'und' on zero hits)
    but expressed as array expressions over a literal marker table —
    ingest must not JOIN the page table against an aggregate of itself
    (that would scan + gunzip + parse every archive twice).  The marker
    table is a handful of constants, so literals are the right carrier.
    """
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")
    scored = []
    for lang, marks in sorted(markers.items()):
        mset = F.array(*[F.lit(m) for m in sorted(set(marks))])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(mset, t)))
        # sort key: (-hits, lang) ascending == hits desc, lang asc
        scored.append(F.struct((-hits).alias("neg"), F.lit(lang).alias("lang")))
    best = F.sort_array(F.array(*scored))[0]
    return F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("und"))


def web_pages_from_warc(
    spark: SparkSession,
    path: str,
    markers=None,
    max_payload_bytes: int = 8 * 1024 * 1024,
) -> DataFrame:
    """WARC archives -> the BASELINE input-hint page table.

    Output columns, exactly: ``(url, warc_ts, html, text, lang)`` — the
    shape ``sources/documents.load_documents`` normalizes for the engine.
    ``text`` is ``html_to_text(html)``; ``lang`` is the marker
    language-ID over the extracted text ('und' when no marker fires),
    computed MAP-SIDE so the archive scan runs exactly once — no join,
    no shuffle, no second pass over 100 TB of gzip."""
    from dere_spark.operators.text import DEFAULT_MARKERS

    return (
        load_warc(spark, path, record_types=("response",), max_payload_bytes=max_payload_bytes)
        .where(F.col("url").isNotNull())
        .select("url", "warc_ts", "html")
        .withColumn("text", html_to_text(F.col("html")))
        .withColumn("lang", _lang_expr(F.col("text"), markers or DEFAULT_MARKERS))
    )
