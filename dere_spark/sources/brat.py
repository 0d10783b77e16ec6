"""Distributed BRAT standoff corpus IO.

Re-expresses the reference's BRAT reader/writer
(/root/reference/dere/corpus_io/brat_corpus_io.py) as DataFrame plans:

  * ``*.txt`` files -> `instances` — one Instance per text line with its
    absolute character interval (reference: brat_corpus_io.py:120-129);
  * ``*.a1`` (source='given') / ``*.a2`` (source='gold') ->
    `spans` (T-lines, brat_corpus_io.py:141-160) and
    `frames` + `slot_fills` (E-lines, two-pass tag resolution,
    brat_corpus_io.py:162-190) — the two passes become two joins on
    (doc_id, tag);
  * span→instance assignment is an interval join on the line offsets;
    span offsets are re-based to instance-relative, preserving the span
    identity contract (doc_id, span_type, left, right)
    (dere/corpus.py:206-220);
  * the load-time text round-trip assertion
    ``span.text == span_string`` (brat_corpus_io.py:158) is exposed as
    `span_fidelity_violations` — must be empty;
  * frame→instance resolution is the reference's fixpoint closure
    `frames_referencing_spans` (brat_corpus_io.py:201-235) re-expressed as
    a monotone iterate-until-fixpoint of joins: accept frames whose fillers
    are all resolved and agree on one instance; unresolvable/conflicting
    frames are pruned, cascading automatically because each round recomputes
    from the accepted set.

Everything is per-document parallel; no driver-side loops over data (the
fixpoint loop is over *rounds*, bounded by frame-nesting depth).
"""

from __future__ import annotations

import os
from typing import Dict, Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from dere_spark.taskspec import SpanType, TaskSpecification

GIVEN, GOLD, PREDICTED = "given", "gold", "predicted"


def _read_whole_files(spark: SparkSession, glob: str, ext: str) -> DataFrame:
    df = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(glob)
        .select(
            F.regexp_extract(F.input_file_name(), rf"([^/]+)\.{ext}$", 1).alias("doc_id"),
            F.col("value").alias("content"),
        )
    )
    return df


def load_instances(spark: SparkSession, path: str) -> DataFrame:
    """One instance per text line with absolute char interval.

    i_start/i_end replicate the reference's offset accounting: each line
    occupies [start, start + len(line) + 1) including its newline
    (brat_corpus_io.py:122-129); instance text excludes the newline.
    """
    docs = _read_whole_files(spark, os.path.join(path, "*.txt"), "txt")
    # Replicate Python file-line iteration + the reference's `line[:-1]`
    # exactly: for newline-terminated lines, text is the line and the line
    # occupies len(text)+1 chars. If the file does NOT end with a newline,
    # the reference still chops the final char of the last line (and that
    # line occupies only len(raw) chars) — the tutorial corpus ends files
    # with a trailing space, so this quirk is observable and must be kept
    # for byte parity.
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split("content", "\n", -1)).alias("instance_idx", "raw"),
        F.size(F.split("content", "\n", -1)).alias("_n"),
    ).where(
        ~((F.col("instance_idx") == F.col("_n") - 1) & (F.col("raw") == ""))
    )
    is_last_unterminated = (F.col("instance_idx") == F.col("_n") - 1)
    lines = lines.select(
        "doc_id",
        "instance_idx",
        F.when(
            is_last_unterminated,
            F.expr("substring(raw, 1, length(raw) - 1)"),
        )
        .otherwise(F.col("raw"))
        .alias("text"),
        F.when(is_last_unterminated, F.length("raw"))
        .otherwise(F.length("raw") + 1)
        .cast("int")
        .alias("_span_len"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("instance_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        lines.withColumn(
            "i_start", F.coalesce(F.sum("_span_len").over(w), F.lit(0)).cast("int")
        )
        .withColumn("i_end", (F.col("i_start") + F.col("_span_len")).cast("int"))
        .drop("_span_len")
    )


def _read_annotation_lines(
    spark: SparkSession, path: str, load_gold: bool
) -> Optional[DataFrame]:
    """All annotation lines tagged with their provenance source."""
    parts = []
    a1_glob = os.path.join(path, "*.a1")
    a2_glob = os.path.join(path, "*.a2")
    import glob as _glob

    if _glob.glob(a1_glob):
        parts.append(
            _read_whole_files(spark, a1_glob, "a1").withColumn("source", F.lit(GIVEN))
        )
    if load_gold and _glob.glob(a2_glob):
        parts.append(
            _read_whole_files(spark, a2_glob, "a2").withColumn("source", F.lit(GOLD))
        )
    if not parts:
        return None
    ann = parts[0]
    for p in parts[1:]:
        ann = ann.unionByName(p)
    lines = ann.select(
        "doc_id",
        "source",
        F.posexplode(F.split("content", "\n", -1)).alias("line_no", "line"),
    ).where(F.length(F.trim("line")) > 0)
    return lines


def _span_type_df(spark: SparkSession, spec: TaskSpecification) -> DataFrame:
    return spark.createDataFrame(
        [(t.name,) for t in spec.span_types], "span_type string"
    )


def _frame_slot_df(spark: SparkSession, spec: TaskSpecification) -> DataFrame:
    rows = [
        (ft.name, st.name)
        for ft in spec.frame_types
        for st in ft.slot_types
    ]
    return spark.createDataFrame(rows, "frame_type string, slot_name string")


def parse_spans(ann_lines: DataFrame, instances: DataFrame, span_types: DataFrame) -> DataFrame:
    """T-lines -> spans with instance-relative offsets.

    ``T#\\ttype left right\\ttext`` (brat_corpus_io.py:141-160). Types not
    declared in the task spec are skipped (type_lookup returning None).
    """
    # null-tolerant field access (F.get) + strict shape validation: one
    # malformed line must not fail the job at scale — it is dropped, never
    # silently misparsed (tag must be T<digits>, offsets must be ints).
    t = (
        ann_lines.where(F.col("line").rlike(r"^T[0-9]+\t"))
        .select(
            "doc_id",
            "source",
            "line_no",
            F.split("line", "\t").alias("parts"),
        )
        .select(
            "doc_id",
            "source",
            "line_no",
            F.get("parts", 0).alias("tag"),
            F.split(F.get("parts", 1), " ").alias("tlr"),
            F.get("parts", 2).alias("span_text"),
        )
        .select(
            "doc_id",
            "source",
            "line_no",
            "tag",
            F.get("tlr", 0).alias("span_type"),
            F.get("tlr", 1).cast("int").alias("abs_left"),
            F.get("tlr", 2).cast("int").alias("abs_right"),
            "span_text",
        )
        .where(
            F.col("abs_left").isNotNull()
            & F.col("abs_right").isNotNull()
            & F.col("span_text").isNotNull()
        )
        .join(F.broadcast(span_types), "span_type", "inner")
    )
    i = instances.select("doc_id", "instance_idx", "i_start", "i_end", F.col("text").alias("i_text"))
    # the line's TEXT ends at i_end - 1 (i_end includes the newline slot
    # in both termination cases) — admitting abs_right == i_end would
    # attach a span ending one past the text, substring-truncate its
    # reconstructed text, and let a zero-width span at a line boundary
    # match two instances. Out-of-range T-lines join nothing; the
    # reference would fail its load-time text assertion on them, and here
    # they surface as a span-count difference vs the .a1/.a2 line count.
    return (
        t.join(i, "doc_id")
        .where(
            (F.col("abs_left") >= F.col("i_start"))
            & (F.col("abs_right") <= F.col("i_end") - 1)
        )
        .select(
            "doc_id",
            "instance_idx",
            "tag",
            "span_type",
            (F.col("abs_left") - F.col("i_start")).alias("left"),
            (F.col("abs_right") - F.col("i_start")).alias("right"),
            "span_text",
            F.expr("substring(i_text, abs_left - i_start + 1, abs_right - abs_left)").alias("text"),
            "source",
            F.col("tag").substr(F.lit(2), F.lit(16)).cast("int").alias("file_index"),
            "line_no",
        )
    )


def span_fidelity_violations(spans: DataFrame) -> DataFrame:
    """Spans whose reconstructed text differs from the annotation string —
    the reference asserts this is empty at load (brat_corpus_io.py:158)."""
    return spans.where(F.col("text") != F.col("span_text"))


def parse_frames(ann_lines: DataFrame, frame_slots: DataFrame) -> Dict[str, DataFrame]:
    """E-lines -> frames + slot_fills edge list.

    ``E#\\tFrameType:anchor_tag slot:filler_tag ...``
    (brat_corpus_io.py:162-190). The first pair names the frame type AND is
    itself a slot fill (the anchor slot, named like the frame type in the
    shipped specs). Slot names not declared for the frame type are skipped
    (slot_type_lookup returning None).
    """
    e = ann_lines.where(F.col("line").rlike(r"^E[0-9]+\t")).select(
        "doc_id",
        "source",
        "line_no",
        F.split("line", "\t").alias("parts"),
    )
    e = e.select(
        "doc_id",
        "source",
        "line_no",
        F.col("parts")[0].alias("tag"),
        F.split(F.trim(F.col("parts")[1]), " ").alias("kvs"),
    )
    frames = e.select(
        "doc_id",
        "tag",
        F.regexp_extract(F.col("kvs")[0], r"^(.*):[^:]*$", 1).alias("frame_type"),
        "source",
        "line_no",
        F.col("tag").substr(F.lit(2), F.lit(16)).cast("int").alias("file_index"),
    ).join(
        F.broadcast(frame_slots.select("frame_type").distinct()), "frame_type", "inner"
    )
    fills = (
        e.select(
            "doc_id",
            "source",
            F.col("tag").alias("frame_tag"),
            F.regexp_extract(F.col("kvs")[0], r"^(.*):[^:]*$", 1).alias("frame_type"),
            F.posexplode("kvs").alias("fill_idx", "kv"),
        )
        .select(
            "doc_id",
            "source",
            "frame_tag",
            "frame_type",
            "fill_idx",
            F.regexp_extract("kv", r"^(.*):[^:]*$", 1).alias("slot_name"),
            F.regexp_extract("kv", r"([^:]*)$", 1).alias("filler_tag"),
        )
        # the first pair's "slot" is the frame type name = anchor slot name
        .join(F.broadcast(frame_slots), ["frame_type", "slot_name"], "inner")
        .withColumn(
            "filler_kind",
            F.when(F.col("filler_tag").startswith("T"), "span").otherwise("frame"),
        )
    )
    return {"frames": frames, "slot_fills": fills}


def resolve_frame_instances(
    frames: DataFrame, slot_fills: DataFrame, spans: DataFrame, max_rounds: int = 8
) -> DataFrame:
    """Fixpoint: assign each frame to the single instance all its fillers
    live in; prune frames with unresolvable or cross-instance fillers.

    Monotone lattice iteration (rounds ≤ frame-nesting depth): round 0
    accepts frames whose fillers are all spans of one instance; round k
    adds frames whose frame-fillers were accepted in earlier rounds. This
    computes exactly the reference's closure-then-prune fixpoint
    (brat_corpus_io.py:201-235) without per-row Python.
    """
    span_loc = spans.select(
        "doc_id", F.col("tag").alias("filler_tag"), F.col("instance_idx").alias("f_instance")
    )
    fill_counts = (
        slot_fills.groupBy("doc_id", "frame_tag").agg(F.count(F.lit(1)).alias("n_fills"))
    )
    accepted = None  # (doc_id, frame_tag, instance_idx)
    prev_n = -1
    for _ in range(max_rounds):
        frame_loc = (
            accepted.select(
                "doc_id", F.col("frame_tag").alias("filler_tag"),
                F.col("instance_idx").alias("f_instance"),
            )
            if accepted is not None
            else None
        )
        locs = span_loc if frame_loc is None else span_loc.unionByName(frame_loc)
        resolved = (
            slot_fills.join(locs, ["doc_id", "filler_tag"], "inner")
            .groupBy("doc_id", "frame_tag")
            .agg(
                F.count(F.lit(1)).alias("n_resolved"),
                F.min("f_instance").alias("i_min"),
                F.max("f_instance").alias("i_max"),
            )
            .join(fill_counts, ["doc_id", "frame_tag"], "inner")
            .where(
                (F.col("n_resolved") == F.col("n_fills"))
                & (F.col("i_min") == F.col("i_max"))
            )
            .select("doc_id", "frame_tag", F.col("i_min").alias("instance_idx"))
        )
        accepted = resolved.localCheckpoint(eager=True)
        n = accepted.count()
        if n == prev_n:
            break
        prev_n = n
    return frames.join(
        accepted.withColumnRenamed("frame_tag", "tag"), ["doc_id", "tag"], "inner"
    )


def normalize_corpus_quotes(corpus: Dict[str, DataFrame]) -> Dict[str, DataFrame]:
    """P5: the reference's destructive quote normalization — every double
    quote in instance text becomes a single quote BEFORE tokenization, and
    the mutation is permanent (dumps emit the mutated text:
    span_classifier.py:263-264, 310, 359, 420; slot_classifier.py:294;
    Span.text is a derived property of the mutated instance text,
    corpus.py:201-203). Same-length replacement, so offsets are unchanged;
    span text columns are re-derived to keep the fidelity invariant."""
    out = dict(corpus)
    out["instances"] = corpus["instances"].withColumn(
        "text", F.translate("text", '"', "'")
    )
    spans = corpus["spans"]
    for c in ("text", "span_text"):
        if c in spans.columns:
            spans = spans.withColumn(c, F.translate(c, '"', "'"))
    out["spans"] = spans
    return out


def load_brat(
    spark: SparkSession,
    path: str,
    spec: TaskSpecification,
    load_gold: bool = True,
    normalize_quotes: bool = True,
) -> Dict[str, DataFrame]:
    """Load a BRAT directory into the engine's corpus tables.

    Returns dict with `instances`, `spans`, `frames`, `slot_fills`.

    ``normalize_quotes`` applies the reference's destructive '"'→"'"
    preprocessing (see normalize_corpus_quotes). It runs AFTER span
    parsing — the reference asserts T-line text against the ORIGINAL
    instance text at load (brat_corpus_io.py:158) and mutates afterwards —
    and defaults on because every reference model path normalizes before
    any tokenization or dump.
    """
    instances = load_instances(spark, path)
    ann = _read_annotation_lines(spark, path, load_gold)
    if ann is None:
        empty_spans = spark.createDataFrame(
            [],
            "doc_id string, instance_idx int, tag string, span_type string, "
            "left int, right int, span_text string, text string, source string, "
            "file_index int, line_no int",
        )
        empty_frames = spark.createDataFrame(
            [],
            "frame_type string, doc_id string, tag string, source string, "
            "line_no int, file_index int, instance_idx int",
        )
        empty_fills = spark.createDataFrame(
            [],
            "frame_type string, slot_name string, doc_id string, source string, "
            "frame_tag string, fill_idx int, filler_tag string, filler_kind string",
        )
        corpus = {
            "instances": instances,
            "spans": empty_spans,
            "frames": empty_frames,
            "slot_fills": empty_fills,
        }
        return normalize_corpus_quotes(corpus) if normalize_quotes else corpus
    span_types = _span_type_df(spark, spec)
    frame_slots = _frame_slot_df(spark, spec)
    spans = parse_spans(ann, instances, span_types)
    parsed = parse_frames(ann, frame_slots)
    frames = resolve_frame_instances(parsed["frames"], parsed["slot_fills"], spans)
    corpus = {
        "instances": instances,
        "spans": spans,
        "frames": frames,
        "slot_fills": parsed["slot_fills"],
    }
    return normalize_corpus_quotes(corpus) if normalize_quotes else corpus


# ---------------------------------------------------------------------------
# Sink: BRAT dump (reference: brat_corpus_io.py:22-82)
# ---------------------------------------------------------------------------

def dump_brat(
    corpus: Dict[str, DataFrame],
    just_predictions: bool = True,
) -> DataFrame:
    """Render each document back to BRAT standoff text, distributed.

    Returns one row per document: (doc_id, txt, a1, a2). The reference's
    sequential writer becomes a per-doc Arrow kernel: span index
    preservation + fresh-index renumbering skipping used indices
    (brat_corpus_io.py:46-58), frame tags renumbered E1..En in instance
    order (:71-73), absolute offsets re-derived from instance offsets
    (:65-66, offset accounting :82). Provenance routing: 'given' rows go to
    a1, everything else to a2 (:59, :80).

    A single writer per document (the groupBy key) keeps output
    deterministic at any parallelism; at scale the result is written as a
    table partitioned by bucket(doc_id) rather than a million tiny files.
    """
    import pandas as pd

    inst = corpus["instances"].select(
        "doc_id", "instance_idx", F.col("text").alias("i_text"), "i_start"
    )
    spans = corpus["spans"].select(
        "doc_id", "instance_idx", "span_type", "left", "right", "text",
        "source", "file_index", "line_no",
    )
    frames = corpus["frames"].select(
        "doc_id", F.col("tag").alias("frame_tag"), "frame_type", "source",
        "instance_idx", F.col("line_no").alias("frame_line"),
    )
    fills = corpus["slot_fills"].select(
        "doc_id", "frame_tag", "slot_name", "fill_idx", "filler_tag", "filler_kind"
    )
    span_tags = corpus["spans"].select(
        "doc_id", F.col("tag").alias("filler_tag"),
        F.col("file_index").alias("filler_file_index"),
        F.col("instance_idx").alias("filler_instance_idx"),
        F.col("span_type").alias("filler_span_type"),
        F.col("left").alias("filler_left"),
        F.col("right").alias("filler_right"),
        F.col("source").alias("filler_source"),
    )
    fills = fills.join(span_tags, ["doc_id", "filler_tag"], "left")

    tagged = (
        inst.withColumn("row_kind", F.lit("instance"))
        .unionByName(
            spans.select(
                "doc_id", "instance_idx",
                F.lit(None).cast("string").alias("i_text"),
                F.lit(None).cast("int").alias("i_start"),
                F.lit("span").alias("row_kind"),
                "span_type", "left", "right", "text", "source", "file_index", "line_no",
            ),
            allowMissingColumns=True,
        )
        .unionByName(
            frames.join(fills, ["doc_id", "frame_tag"], "left").select(
                "doc_id", "instance_idx",
                F.lit(None).cast("string").alias("i_text"),
                F.lit(None).cast("int").alias("i_start"),
                F.lit("fill").alias("row_kind"),
                F.lit(None).cast("string").alias("span_type"),
                F.lit(None).cast("int").alias("left"),
                F.lit(None).cast("int").alias("right"),
                F.lit(None).cast("string").alias("text"),
                "source",
                F.lit(None).cast("int").alias("file_index"),
                F.col("frame_line").alias("line_no"),
                "frame_tag", "frame_type", "slot_name", "fill_idx",
                "filler_tag", "filler_kind", "filler_file_index",
                "filler_instance_idx", "filler_span_type",
                "filler_left", "filler_right", "filler_source",
            ),
            allowMissingColumns=True,
        )
    )

    out_schema = "doc_id string, txt string, a1 string, a2 string"

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = pdf["doc_id"].iloc[0]
        inst_rows = pdf[pdf["row_kind"] == "instance"].sort_values("instance_idx")
        span_rows = pdf[pdf["row_kind"] == "span"].sort_values(["instance_idx", "line_no"])
        fill_rows = pdf[pdf["row_kind"] == "fill"].sort_values(
            ["instance_idx", "line_no", "fill_idx"])

        i_start = dict(zip(inst_rows["instance_idx"], inst_rows["i_start"]))
        txt_lines, a1_lines, a2_lines = [], [], []

        used = set(int(x) for x in span_rows["file_index"].dropna())
        next_span_idx = 1
        span_tag_of = {}

        # frame renumbering: E1..En in (instance, file order)
        frame_order = (
            fill_rows[["frame_tag", "instance_idx", "line_no"]]
            .drop_duplicates("frame_tag")
            .sort_values(["instance_idx", "line_no"])  # instance order
        )
        frame_tag_of = {t: f"E{i+1}" for i, t in enumerate(frame_order["frame_tag"])}

        for irow in inst_rows.itertuples(index=False):
            idx = irow.instance_idx
            txt_lines.append(irow.i_text)
            off = int(irow.i_start)
            for s in span_rows[span_rows["instance_idx"] == idx].itertuples(index=False):
                if pd.notna(s.file_index):
                    tag_n = int(s.file_index)
                else:
                    while next_span_idx in used:
                        next_span_idx += 1
                    tag_n = next_span_idx
                    used.add(tag_n)
                    next_span_idx += 1
                span_tag_of[(idx, s.span_type, s.left, s.right, s.source)] = tag_n
                line = "T%d\t%s %d %d\t%s" % (
                    tag_n, s.span_type, int(s.left) + off, int(s.right) + off, s.text,
                )
                (a1_lines if s.source == "given" else a2_lines).append(line)
            inst_fills = fill_rows[fill_rows["instance_idx"] == idx]
            for ftag in inst_fills["frame_tag"].drop_duplicates():
                frows = inst_fills[inst_fills["frame_tag"] == ftag]
                parts = []
                for fr in frows.itertuples(index=False):
                    if fr.filler_kind == "span":
                        if pd.notna(fr.filler_file_index):
                            ref = "T%d" % int(fr.filler_file_index)
                        else:
                            # span created at predict time: resolve through
                            # the tag assigned while dumping its span line
                            key = (
                                fr.filler_instance_idx,
                                fr.filler_span_type,
                                fr.filler_left,
                                fr.filler_right,
                                fr.filler_source,
                            )
                            ref = "T%d" % span_tag_of[key]
                    else:
                        ref = frame_tag_of.get(fr.filler_tag, fr.filler_tag)
                    parts.append("%s:%s" % (fr.slot_name, ref))
                line = "%s\t%s" % (frame_tag_of[ftag], " ".join(parts))
                src = frows["source"].iloc[0]
                (a1_lines if src == "given" else a2_lines).append(line)

        return pd.DataFrame(
            [
                (
                    doc_id,
                    "\n".join(txt_lines) + "\n",
                    "\n".join(a1_lines) + ("\n" if a1_lines else ""),
                    "\n".join(a2_lines) + ("\n" if a2_lines else ""),
                )
            ],
            columns=["doc_id", "txt", "a1", "a2"],
        )

    out = tagged.groupBy("doc_id").applyInPandas(render, out_schema)
    if just_predictions:
        # reference parity (brat_corpus_io.py:38-42): just_predictions
        # routes the .txt and .a1 streams to devnull and writes ONLY the
        # .a2 file — it does NOT filter a2 by source (given rows still go
        # to a1, everything else to a2, in both modes). Null columns are
        # the DataFrame analog of devnull; the CLI sink writes only .a2.
        out = out.select(
            "doc_id",
            F.lit(None).cast("string").alias("txt"),
            F.lit(None).cast("string").alias("a1"),
            "a2",
        )
    return out
