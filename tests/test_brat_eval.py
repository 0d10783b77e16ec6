"""BRAT IO + evaluation semantics on the in-repo BioNLP-ST-shaped corpus
(tests/fixtures/bionlp_mini: its spec and 10 train documents), with
expected counts read off the fixture files themselves. Each check that
reads a corpus or its spec has a ``*_tutorial`` twin that runs the same
body on the reference's tutorial corpus and task spec with that corpus's
counts, wherever the reference checkout is present; the tutorial corpus
carries what the fixture lacks (spec-filtered ``Entity`` T-lines, an
unterminated last ``.txt`` line, a2-local Entity arguments)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dere_spark.evaluation import evaluate, frame_eval_counts, span_eval_counts
from dere_spark.sources.brat import dump_brat, load_brat, span_fidelity_violations
from dere_spark.taskspec import load_task_spec
from tests.conftest import MINI_SPEC, MINI_TRAIN, REF_SPEC, REF_TRAIN, needs_reference

needs_tutorial = needs_reference(REF_SPEC, REF_TRAIN)


def _persisted(spark, train_dir, spec):
    c = load_brat(spark, train_dir, spec)
    for df in c.values():
        df.persist()
    return c


@pytest.fixture(scope="module")
def spec():
    return load_task_spec(MINI_SPEC)


@pytest.fixture(scope="module")
def corpus(spark, spec):
    return _persisted(spark, MINI_TRAIN, spec)


@pytest.fixture(scope="module")
def tutorial_spec():
    return load_task_spec(REF_SPEC)


@pytest.fixture(scope="module")
def tutorial_corpus(spark, tutorial_spec):
    return _persisted(spark, REF_TRAIN, tutorial_spec)


def test_load_counts(corpus, expected=(60, 127, 59)):
    # 10 docs, 60 .txt lines in all; 68 .a1 + 59 .a2 T lines, every type
    # in the spec; 59 E lines, all resolvable.
    instances, spans, frames = expected
    assert corpus["instances"].count() == instances
    assert corpus["spans"].count() == spans
    assert corpus["frames"].count() == frames
    assert span_fidelity_violations(corpus["spans"]).count() == 0


@needs_tutorial
def test_load_counts_tutorial(tutorial_corpus):
    # 8 docs x 2 lines (title + abstract); 156 T lines of which 8 are
    # 'Entity' (not in spec -> skipped); 75 E lines, all resolvable.
    test_load_counts(tutorial_corpus, expected=(16, 148, 75))


def test_given_vs_gold_provenance(corpus, expected=(68, 59)):
    given, gold = expected
    by_source = dict(
        corpus["spans"].groupBy("source").count().collect()
    )
    assert by_source["given"] == given  # Protein spans from .a1
    assert by_source["gold"] == gold
    assert corpus["frames"].where(F.col("source") != "gold").count() == 0


@needs_tutorial
def test_given_vs_gold_provenance_tutorial(tutorial_corpus):
    test_given_vs_gold_provenance(tutorial_corpus, expected=(79, 69))


def test_self_evaluation_perfect(corpus, expected=(59, 59)):
    r = evaluate(corpus, corpus)
    assert r.precision() == 1.0 and r.recall() == 1.0
    # given spans are excluded from evaluation (evaluation.py:18-21)
    tp_span = sum(v[0] for (k, _), v in r.counts.items() if k == "span")
    tp_frame = sum(v[0] for (k, _), v in r.counts.items() if k == "frame")
    assert (tp_span, tp_frame) == expected


@needs_tutorial
def test_self_evaluation_perfect_tutorial(tutorial_corpus):
    test_self_evaluation_perfect(tutorial_corpus, expected=(69, 75))


def test_span_eval_detects_fp_fn(
    spark, corpus, gene_expression=(0, 12, 12), binding=(8, 0, 0)
):
    # perturb: shift every Gene_expression span right by 1 -> each becomes
    # one FP (hypo not in gold) and one FN (gold unmatched)
    spans = corpus["spans"]
    perturbed = spans.withColumn(
        "left",
        F.when(F.col("span_type") == "Gene_expression", F.col("left") + 1).otherwise(
            F.col("left")
        ),
    )
    counts = {
        row["type_name"]: (row["tp"], row["fp"], row["fn"])
        for row in span_eval_counts(perturbed, spans).collect()
    }
    assert counts["Gene_expression"] == gene_expression
    # untouched types unaffected
    assert counts["Binding"] == binding


@needs_tutorial
def test_span_eval_detects_fp_fn_tutorial(spark, tutorial_corpus):
    test_span_eval_detects_fp_fn(
        spark, tutorial_corpus, gene_expression=(0, 19, 19), binding=(1, 0, 0)
    )


def test_frame_eval_detects_missing_frame(
    spark, corpus, binding=(0, 0, 8), gene_expression_tp=12
):
    # drop all Binding frames from hypo -> one FN each, no FP
    hypo = dict(corpus)
    hypo["frames"] = corpus["frames"].where(F.col("frame_type") != "Binding")
    hypo["slot_fills"] = corpus["slot_fills"].where(
        F.col("frame_type") != "Binding"
    )
    counts = {
        row["type_name"]: (row["tp"], row["fp"], row["fn"])
        for row in frame_eval_counts(hypo, corpus).collect()
    }
    assert counts["Binding"] == binding
    assert counts["Gene_expression"][0] == gene_expression_tp  # unaffected


@needs_tutorial
def test_frame_eval_detects_missing_frame_tutorial(spark, tutorial_corpus):
    test_frame_eval_detects_missing_frame(
        spark, tutorial_corpus, binding=(0, 0, 1), gene_expression_tp=20
    )


def test_frame_eval_nested_regulation_structure(spark, corpus):
    # Perturb a filler INSIDE a nested structure: retarget every
    # frame->frame Theme fill to a different frame. Regulation-family
    # components change shape -> mismatches on both sides. The matcher must
    # compare structure, not tags; simple per-frame counting would miss it.
    fills = corpus["slot_fills"]
    perturbed = fills.withColumn(
        "filler_tag",
        F.when(
            (F.col("filler_kind") == "frame") & (F.col("slot_name") == "Theme"),
            F.lit("E999"),
        ).otherwise(F.col("filler_tag")),
    )
    hypo = dict(corpus)
    hypo["slot_fills"] = perturbed
    r = frame_eval_counts(hypo, corpus)
    fp = r.agg(F.sum("fp")).collect()[0][0]
    fn = r.agg(F.sum("fn")).collect()[0][0]
    assert fp > 0 and fn > 0


@needs_tutorial
def test_frame_eval_nested_regulation_structure_tutorial(spark, tutorial_corpus):
    test_frame_eval_nested_regulation_structure(spark, tutorial_corpus)


def test_dump_round_trip_spans_byte_identical(corpus, train_dir=MINI_TRAIN):
    # T-lines of the dump must be byte-identical (as a set) to the input
    # annotation files: indices preserved, absolute offsets re-derived
    # (reference invariant: brat_corpus_io.py:46-58,158).
    import glob as g

    dumped = {r["doc_id"]: r for r in dump_brat(corpus, just_predictions=False).collect()}
    for path in sorted(g.glob(f"{train_dir}/*.a1")):
        doc_id = path.rsplit("/", 1)[1][:-3]
        want = {l for l in open(path).read().splitlines() if l.startswith("T")}
        got = {l for l in dumped[doc_id]["a1"].splitlines() if l.startswith("T")}
        assert got == want, doc_id
    for path in sorted(g.glob(f"{train_dir}/*.a2")):
        doc_id = path.rsplit("/", 1)[1][:-3]
        want = {l for l in open(path).read().splitlines() if l.startswith("T")}
        # spec-filtered types (Entity) are dropped on load; compare the kept set
        want = {l for l in want if "\tEntity " not in l}
        got = {l for l in dumped[doc_id]["a2"].splitlines() if l.startswith("T")}
        assert got == want, doc_id


@needs_tutorial
def test_dump_round_trip_spans_byte_identical_tutorial(tutorial_corpus):
    test_dump_round_trip_spans_byte_identical(tutorial_corpus, REF_TRAIN)


def test_dump_round_trip_text_byte_identical(corpus, train_dir=MINI_TRAIN):
    import glob as g

    dumped = {r["doc_id"]: r for r in dump_brat(corpus, just_predictions=False).collect()}
    for path in sorted(g.glob(f"{train_dir}/*.txt")):
        doc_id = path.rsplit("/", 1)[1][:-4]
        raw = open(path).read()
        # the reference chops the final char of an unterminated last line
        # and dumps each instance text + '\n' — reproduce that contract
        want = "".join(
            line[:-1] + "\n" if line.endswith("\n") else line[:-1] + "\n"
            for line in open(path)
        )
        assert dumped[doc_id]["txt"] == want, doc_id


@needs_tutorial
def test_dump_round_trip_text_byte_identical_tutorial(tutorial_corpus):
    test_dump_round_trip_text_byte_identical(tutorial_corpus, REF_TRAIN)


def test_dump_reload_evaluates_perfect(spark, spec, corpus, tmp_path):
    # full round trip: dump -> write files -> reload -> evaluate vs original
    out = tmp_path / "dump"
    out.mkdir()
    for r in dump_brat(corpus, just_predictions=False).collect():
        (out / f"{r['doc_id']}.txt").write_text(r["txt"])
        (out / f"{r['doc_id']}.a1").write_text(r["a1"])
        (out / f"{r['doc_id']}.a2").write_text(r["a2"])
    reloaded = load_brat(spark, str(out), spec)
    assert span_fidelity_violations(reloaded["spans"]).count() == 0
    r = evaluate(reloaded, corpus)
    assert r.precision() == 1.0 and r.recall() == 1.0, "\n" + r.report()


@needs_tutorial
def test_dump_reload_evaluates_perfect_tutorial(
    spark, tutorial_spec, tutorial_corpus, tmp_path
):
    test_dump_reload_evaluates_perfect(spark, tutorial_spec, tutorial_corpus, tmp_path)


def test_quote_normalization_round_trip(
    spark, spec, tmp_path, trigger_type="Negative_regulation"
):
    """P5: '"'→"'" is destructive and happens before tokenize — dumps emit
    the mutated text everywhere (.txt AND derived span text in .ann),
    offsets unchanged (reference span_classifier.py:263-264; Span.text is
    a property over the mutated instance text, corpus.py:201-203)."""
    src = tmp_path / "src"
    src.mkdir()
    text = 'He said "BMP-6 blocks" the pathway loudly\n'
    (src / "d1.txt").write_text(text)
    # span covers quoted text: "BMP-6 (offsets include the opening quote)
    (src / "d1.a1").write_text('T1\tProtein 9 14\tBMP-6\n')
    # a trigger type the spec declares, so the load keeps the .a2 line
    (src / "d1.a2").write_text(f"T2\t{trigger_type} 15 21\tblocks\n")

    corpus = load_brat(spark, str(src), spec)
    inst_text = corpus["instances"].select("text").collect()[0][0]
    assert '"' not in inst_text
    assert "He said 'BMP-6 blocks' the pathway" in inst_text
    # offsets untouched, span text re-derived from the mutated text
    span = corpus["spans"].where(F.col("tag") == "T1").collect()[0]
    assert (span["left"], span["right"]) == (9, 14)
    assert span["text"] == "BMP-6"

    dumped = {r["doc_id"]: r for r in dump_brat(corpus, just_predictions=False).collect()}
    assert '"' not in dumped["d1"]["txt"]
    assert "'BMP-6 blocks'" in dumped["d1"]["txt"]
    assert '"' not in dumped["d1"]["a1"] and '"' not in dumped["d1"]["a2"]

    # and the mutated dump round-trips losslessly (fixpoint: a second
    # load+dump is byte-identical — normalization is idempotent)
    out = tmp_path / "dump"
    out.mkdir()
    for r in dumped.values():
        (out / f"{r['doc_id']}.txt").write_text(r["txt"])
        (out / f"{r['doc_id']}.a1").write_text(r["a1"])
        (out / f"{r['doc_id']}.a2").write_text(r["a2"])
    re_dumped = {
        r["doc_id"]: r
        for r in dump_brat(load_brat(spark, str(out), spec), just_predictions=False).collect()
    }
    assert re_dumped["d1"]["txt"] == dumped["d1"]["txt"]
    assert re_dumped["d1"]["a1"] == dumped["d1"]["a1"]


@needs_tutorial
def test_quote_normalization_round_trip_tutorial(spark, tutorial_spec, tmp_path):
    test_quote_normalization_round_trip(
        spark, tutorial_spec, tmp_path, trigger_type="Deacetylation"
    )


def test_quote_normalization_can_be_disabled(spark, spec, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "d1.txt").write_text('a "quoted" word\n')
    (src / "d1.a1").write_text('T1\tProtein 3 9\tquoted\n')
    corpus = load_brat(spark, str(src), spec, normalize_quotes=False)
    assert '"' in corpus["instances"].select("text").collect()[0][0]


@needs_tutorial
def test_quote_normalization_can_be_disabled_tutorial(spark, tutorial_spec, tmp_path):
    test_quote_normalization_can_be_disabled(spark, tutorial_spec, tmp_path)


def test_frame_eval_counts_slotless_frame_as_fp(
    spark, corpus, doc_id="train00", gene_expression=(12, 1, 0)
):
    """A predicted frame with ZERO slot fills must still be counted: the
    reference's frame_graph adds every frame as a node (corpus.py:96-98),
    so a slot-less hypo frame is an unmatched singleton component = FP.
    An inner join from slot_fills used to drop it from evaluation."""
    extra = spark.createDataFrame(
        [(doc_id, "E999", "Gene_expression", "predicted", 999, None, 0)],
        corpus["frames"].schema,
    )
    hypo = dict(corpus)
    hypo["frames"] = corpus["frames"].unionByName(extra)
    counts = {
        row["type_name"]: (row["tp"], row["fp"], row["fn"])
        for row in frame_eval_counts(hypo, corpus).collect()
    }
    assert counts["Gene_expression"] == gene_expression


@needs_tutorial
def test_frame_eval_counts_slotless_frame_as_fp_tutorial(spark, tutorial_corpus):
    test_frame_eval_counts_slotless_frame_as_fp(
        spark, tutorial_corpus, doc_id="10102628", gene_expression=(20, 1, 0)
    )


def test_frame_eval_two_slots_same_target_deterministic(spark):
    """One frame filling TWO slots with the SAME target frame: the edge
    build must not depend on Spark shuffle row order (fills are sorted by
    (frame_tag, slot_name, fill_idx) before the last-write edge label),
    so identical gold/hypo sides always self-match."""
    frames = spark.createDataFrame(
        [("Regulation", "d1", "E1", "gold", 1, None, 0),
         ("Expression", "d1", "E2", "gold", 2, None, 0)],
        "frame_type string, doc_id string, tag string, source string, "
        "line_no int, file_index int, instance_idx int",
    )
    fills = spark.createDataFrame(
        [("d1", "E1", "Theme", 0, "E2", "frame"),
         ("d1", "E1", "Cause", 1, "E2", "frame"),
         ("d1", "E2", "Theme", 0, "T1", "span")],
        "doc_id string, frame_tag string, slot_name string, fill_idx int, "
        "filler_tag string, filler_kind string",
    )
    spans = spark.createDataFrame(
        [("d1", "T1", "Protein", 0, 3, "x", "gold")],
        "doc_id string, tag string, span_type string, left int, right int, "
        "text string, source string",
    )
    side = {"frames": frames, "slot_fills": fills, "spans": spans}
    for _ in range(3):  # repeated runs: shuffle order must not matter
        counts = {
            row["type_name"]: (row["tp"], row["fp"], row["fn"])
            for row in frame_eval_counts(side, side).collect()
        }
        assert counts == {"Regulation": (1, 0, 0), "Expression": (1, 0, 0)}


def test_span_ending_at_newline_slot_not_loaded(spark, spec, tmp_path):
    """A T-line whose right offset lands ON the line's newline position
    must not attach to the instance (the line TEXT ends one char
    earlier); admitting it would load a substring-truncated span. The
    reference crashes its load-time text assertion on such a line."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "d1.txt").write_text("abc def\nghi jkl\n")
    # line 1 text is [0, 7); offset 8 is the newline slot
    (src / "d1.a1").write_text(
        "T1\tProtein 4 7\tdef\n"      # valid: ends at text end
        "T2\tProtein 4 8\tdef\n"      # ends ON the newline -> must not load
    )
    corpus = load_brat(spark, str(src), spec)
    tags = {r["tag"] for r in corpus["spans"].collect()}
    assert "T1" in tags and "T2" not in tags


@needs_tutorial
def test_span_ending_at_newline_slot_not_loaded_tutorial(spark, tutorial_spec, tmp_path):
    test_span_ending_at_newline_slot_not_loaded(spark, tutorial_spec, tmp_path)


def test_dump_just_predictions_nulls_txt_and_a1(spark, corpus):
    """Reference parity (brat_corpus_io.py:38-42): just_predictions routes
    .txt/.a1 to devnull and writes only .a2 — it does NOT filter a2 by
    source. Null columns are the DataFrame analog."""
    rows = {r["doc_id"]: r for r in dump_brat(corpus, just_predictions=True).collect()}
    full = {r["doc_id"]: r for r in dump_brat(corpus, just_predictions=False).collect()}
    for doc_id, r in rows.items():
        assert r["txt"] is None and r["a1"] is None
        assert r["a2"] == full[doc_id]["a2"]  # a2 identical in both modes


@needs_tutorial
def test_dump_just_predictions_nulls_txt_and_a1_tutorial(spark, tutorial_corpus):
    test_dump_just_predictions_nulls_txt_and_a1(spark, tutorial_corpus)
