"""BioNLP'09 slot filling with the generic engine — the reference's own
task (task-specs/bionlpst.xml, tutorial/data) run through the same staged
primitives as the webtext pipeline, proving the engine is schema-driven
rather than corpus-specific.

One predict path, the Model.evaluate contract (clone -> strip gold ->
predict -> evaluate, dere/models/_model.py:56-60):

  BRAT load (given Protein spans + text), spec and both corpora once
  -> triggers: gazetteer membership over punctuation-trimmed tokens
     (`detect_triggers`; the gazetteer is induced from TRAIN gold trigger
     spans or read from a built artifact — the reference ships a
     hand-built one, model-specs/training_gazetteer_bionlp) or the learned
     viability tagger (`detect_triggers_tagged`)
  -> arcs, one Theme per frame, by one of three rules:
       flat nearest-Theme over the schema's plausible-pair whitelist
       (`predicted_corpus`, what CLI `predict` ships);
       nested coverage promotion, where regulations take predicted frames
       as Theme (`_nested_arcs`);
       the stage-B ranker of a `LearnedNestedModel`
  -> one frame/fill emitter, one cascade prune of dangling frame Themes
     and one hypothesis-corpus builder (`_hypo`)
  -> `evaluate` against gold (`run_bionlp_eval(spark, train, eval,
     predict)` with one of the predictors below).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Dict, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from dere_spark.evaluation import EvalResult, evaluate
from dere_spark.operators.tokenize import tokenize
from dere_spark.plans.compiler import compile_plan
from dere_spark.sources.brat import load_brat
from dere_spark.taskspec import TaskSpecification, load_task_spec

from dere_spark.refdata import BIONLP_SPEC  # env-overridable shared constant

_TRIGGER_TYPES = (
    "Gene_expression", "Transcription", "Protein_catabolism", "Phosphorylation",
    "Localization", "Binding", "Regulation", "Positive_regulation",
    "Negative_regulation",
)
_REGULATION_TYPES = ("Regulation", "Positive_regulation", "Negative_regulation")

#: a Theme candidate further than this many characters from its anchor is
#: never considered (flat and nested rules)
_MAX_CHAR_DISTANCE = 120
#: gazetteer precision filter of the nested rule (the CLI default too)
_MIN_TRIGGER_PRECISION = 0.2
#: cascade-prune rounds of the nested rule (frame nesting depth bound)
_PRUNE_ROUNDS = 3

#: predict(spark, spec, train, corpus) -> hypothesis corpus
Predictor = Callable[
    [SparkSession, TaskSpecification, Dict[str, DataFrame], Dict[str, DataFrame]],
    Dict[str, DataFrame],
]


def induce_trigger_gazetteer(train: Dict[str, DataFrame]) -> DataFrame:
    """Gazetteer from train gold trigger spans: lowercased surface ->
    majority span type (ties: lexicographically first — deterministic).

    Mirrors what the reference's gazetteer file encodes; induced from data
    instead of shipped. Protein is 'given' (predict=False), never induced.
    """
    gold_triggers = train["spans"].where(F.col("source") == "gold")
    counted = (
        gold_triggers.groupBy(F.lower(F.col("text")).alias("term"), "span_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("term").orderBy(F.col("n").desc(), F.col("span_type").asc())
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("term", "span_type")
    )


def induce_trigger_gazetteer_filtered(
    train: Dict[str, DataFrame], min_precision: float = 0.0
) -> DataFrame:
    """Gazetteer with a trained precision filter: keep a term only if, in
    train, at least `min_precision` of its token occurrences are gold
    triggers (cuts false-positive triggers like common verbs)."""
    gaz = induce_trigger_gazetteer(train)
    if min_precision <= 0:
        return gaz
    # denominator over the SAME token surface detection matches: the
    # punctuation-trimmed cores of instance_core_tokens. Counting raw
    # tokens here made a term whose train occurrences always abut
    # punctuation ('degradation.') invisible to the inner join — a
    # perfectly reliable trigger silently vanished from the gazetteer —
    # and undercounted n_occ (inflating precision) for the partial case.
    occurrences = (
        instance_core_tokens(train)
        .select(F.lower("core").alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    as_trigger = (
        train["spans"].where(F.col("source") == "gold")
        .groupBy(F.lower(F.col("text")).alias("term"))
        .agg(F.count(F.lit(1)).alias("n_trig"))
    )
    stats = occurrences.join(as_trigger, "term", "inner").where(
        F.col("n_trig") / F.col("n_occ") >= min_precision
    )
    return gaz.join(stats.select("term"), "term", "left_semi")


def instance_core_tokens(corpus: Dict[str, DataFrame]) -> DataFrame:
    """Trimmed instance tokens with exact offsets — the shared token
    source for every trigger-detection path.

    Tokens are whitespace-split, then leading/trailing punctuation is
    trimmed from the MATCH BOUNDS (offsets stay exact against the raw
    text) — gold trigger spans exclude adjacent punctuation, so matching
    the trimmed core lifts held-out span F 0.299 -> 0.338 on
    tutorial/test. Output: (doc_id='doc#inst', token_idx, core, tleft,
    tright)."""
    inst = corpus["instances"].select(
        F.concat_ws("#", "doc_id", "instance_idx").alias("doc_id"),
        F.col("text"),
    )
    return (
        tokenize(inst)
        .withColumn(
            "lead_punct", F.length(F.regexp_extract("token", r"^([^A-Za-z0-9]*)", 1))
        )
        .withColumn(
            "trail_punct", F.length(F.regexp_extract("token", r"([^A-Za-z0-9]*)$", 1))
        )
        .withColumn(
            "core",
            F.expr(
                "substring(token, lead_punct + 1, "
                "length(token) - lead_punct - trail_punct)"
            ),
        )
        .where(F.length("core") > 0)
        .withColumn("tleft", (F.col("left") + F.col("lead_punct")).cast("int"))
        .withColumn("tright", (F.col("right") - F.col("trail_punct")).cast("int"))
    )


def gazetteer_from_model(spark: SparkSession, model) -> DataFrame:
    """(term, span_type) dimension from a built GazetteerTagger artifact
    (plans/models.build_bare_model). Multi-type surfaces collapse to the
    alphabetically last type — exactly the artifact's own `tag` rule
    (later gazetteers overwrite earlier ones), so the relational path
    and the Arrow kernel agree."""
    rows = [
        (term, typ) for typ, terms in model.gazetteers for term in terms
    ]
    df = spark.createDataFrame(rows, "term string, span_type string")
    return df.groupBy("term").agg(F.max("span_type").alias("span_type"))


def detect_triggers(corpus: Dict[str, DataFrame], gazetteer: DataFrame) -> DataFrame:
    """Token-level trigger detection over BRAT instances (gazetteer
    membership path). Returns spans in the corpus's span shape:
    (doc_id, instance_idx, span_type, left, right, text, source).
    """
    toks = instance_core_tokens(corpus)
    hits = toks.join(
        F.broadcast(gazetteer), F.lower(toks["core"]) == gazetteer["term"], "inner"
    )
    return hits.select(
        F.split_part("doc_id", F.lit("#"), F.lit(1)).alias("doc_id"),
        F.split_part("doc_id", F.lit("#"), F.lit(2)).cast("int").alias("instance_idx"),
        "span_type",
        F.col("tleft").alias("left"),
        F.col("tright").alias("right"),
        F.col("core").alias("text"),
        F.lit("predicted").alias("source"),
    )


def _char_distance() -> "Column":
    """Characters between anchor (a_left, a_right) and filler (f_left,
    f_right), whichever side the filler is on."""
    return F.when(
        F.col("f_left") >= F.col("a_right"), F.col("f_left") - F.col("a_right")
    ).otherwise(F.col("a_left") - F.col("f_right"))


def _frame_tag(*parts) -> "Column":
    """Predicted frame tag: P:<instance>:<anchor left>:<anchor right>:<parts>."""
    return F.concat_ws(":", F.lit("P"), "instance_idx", "a_left", "a_right", *parts)


# ---------------------------------------------------------------------------
# Arc rules: each returns `best`, one row per predicted frame with
# (doc_id, instance_idx, a_left, a_right, frame_type, tag, filler_tag,
# filler_kind) — the Theme it fills and the frame's tag
# ---------------------------------------------------------------------------

def _flat_arcs(
    spark: SparkSession,
    spec: TaskSpecification,
    corpus: Dict[str, DataFrame],
    triggers: DataFrame,
) -> DataFrame:
    """Candidate pairs + nearest-Theme rule.

    Whitelist is compiled from the schema (anchor trigger type × filler
    span types of each slot); the scorer is nearest-in-characters with a
    window bound — the structural twin of webtext's nearest-token rule.
    """
    plan = compile_plan(spec)
    wl_rows = [
        (a, f_, lab.frame_type, lab.slot_name)
        for (a, f_), labs in sorted(plan.plausible_relations.items())
        for lab in labs
    ]
    wl = spark.createDataFrame(
        wl_rows, "anchor_type string, filler_type string, frame_type string, slot_name string"
    )
    given = corpus["spans"].where(F.col("source") == "given").select(
        "doc_id", "instance_idx",
        F.col("span_type").alias("filler_type"),
        F.col("left").alias("f_left"),
        F.col("right").alias("f_right"),
        F.col("tag").alias("filler_tag"),
    )
    anchors = triggers.select(
        "doc_id", "instance_idx",
        F.col("span_type").alias("anchor_type"),
        F.col("left").alias("a_left"),
        F.col("right").alias("a_right"),
    )
    pairs = (
        anchors.join(given, ["doc_id", "instance_idx"], "inner")
        .join(F.broadcast(wl), ["anchor_type", "filler_type"], "inner")
        .withColumn("char_distance", _char_distance())
        .where(F.col("char_distance") <= _MAX_CHAR_DISTANCE)
    )
    w = Window.partitionBy(
        "doc_id", "instance_idx", "a_left", "a_right", "frame_type", "slot_name"
    ).orderBy(F.col("char_distance").asc(), F.col("f_left").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") == 1) & (F.col("slot_name") == "Theme"))
        .withColumn("tag", _frame_tag("frame_type"))
        .withColumn("filler_kind", F.lit("span"))
    )


def theme_kind_preference(train: Dict[str, DataFrame]) -> Dict[str, str]:
    """Per frame type: does gold fill Theme mostly with spans or frames?"""
    frames = train["frames"].select("doc_id", F.col("tag").alias("frame_tag"), "frame_type")
    theme = train["slot_fills"].where(F.col("slot_name") == "Theme").select(
        "doc_id", "frame_tag", "filler_kind"
    )
    rows = (
        frames.join(theme, ["doc_id", "frame_tag"])
        .groupBy("frame_type")
        .agg(
            F.sum(F.when(F.col("filler_kind") == "frame", 1).otherwise(0)).alias("nf"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    return {r["frame_type"]: ("frame" if r["nf"] * 2 >= r["n"] else "span") for r in rows}


def _nested_arcs(
    spark: SparkSession,
    spec: TaskSpecification,
    train: Dict[str, DataFrame],
    corpus: Dict[str, DataFrame],
    triggers: DataFrame,
) -> DataFrame:
    """Nested (recursive-frame) rule: regulation triggers may take other
    predicted FRAMES as Theme — the schema's recursive slots (bionlpst.xml
    Regulation.Theme includes regulation frame types; SURVEY §7.4 hard
    part 2). Candidate fillers = given Proteins ∪ other predicted frame
    anchors; the per-type kind preference (span vs frame) is learned from
    train gold; dangling frame references are pruned by `_hypo` (the
    frames_referencing_spans cascade, S4, applied to predictions).

    Measured on tutorial/train: frame F1 0.25 gazetteer-nested (0.2976
    with coverage promotion) vs the 0.4444 span-only ceiling; with tagged
    triggers on held-out tutorial/test span F1 0.5647, frame F1 0.1818."""
    pref = theme_kind_preference(train)
    frame_tag_expr = F.concat_ws(":", F.lit("P"), "instance_idx", "left", "right", "span_type")
    # Only span types that anchor a declared frame become frames (the
    # reference only instantiates frames for schema frame types,
    # dere/taskspec.py frame defs): a tagged `Entity` span is a span
    # prediction, never an event — emitting a frame for it is a
    # guaranteed frame-level fp.
    frame_type_names = sorted(ft.name for ft in spec.frame_types)
    if "score" not in triggers.columns:
        triggers = triggers.withColumn("score", F.lit(None).cast("double"))
    anchors = triggers.where(F.col("span_type").isin(*frame_type_names)).select(
        "doc_id", "instance_idx",
        F.col("span_type").alias("anchor_type"),
        F.col("left").alias("a_left"), F.col("right").alias("a_right"),
        F.col("score").alias("a_score"),
    )
    protein_cands = corpus["spans"].where(
        (F.col("source") == "given") & (F.col("span_type") == "Protein")
    ).select(
        "doc_id", "instance_idx",
        F.col("left").alias("f_left"), F.col("right").alias("f_right"),
        F.col("tag").alias("filler_tag"),
        F.lit("span").alias("filler_kind"),
    )
    frame_cands = triggers.where(F.col("span_type").isin(*frame_type_names)).select(
        "doc_id", "instance_idx",
        F.col("left").alias("f_left"), F.col("right").alias("f_right"),
        frame_tag_expr.alias("filler_tag"),
        F.lit("frame").alias("filler_kind"),
        F.col("span_type").alias("f_anchor_type"),
    )
    cands = protein_cands.withColumn(
        "f_anchor_type", F.lit(None).cast("string")
    ).unionByName(frame_cands)

    pref_rows = [(t, k) for t, k in sorted(pref.items())]
    pref_df = spark.createDataFrame(pref_rows, "anchor_type string, pref_kind string")

    pairs = (
        anchors.join(cands, ["doc_id", "instance_idx"], "inner")
        # a span can't fill its own frame's Theme with itself
        .where(~((F.col("f_left") == F.col("a_left")) & (F.col("f_right") == F.col("a_right"))))
        # only regulation anchors may take frame fillers (schema recursion)
        .where(
            (F.col("filler_kind") == "span")
            | F.col("anchor_type").isin(*_REGULATION_TYPES)
        )
        .join(F.broadcast(pref_df), "anchor_type", "left")
        .withColumn("char_distance", _char_distance())
        .where(F.col("char_distance") <= _MAX_CHAR_DISTANCE)
    )
    # ---- coverage promotion (stage-B attachment) -------------------------
    # BioNLP gold attaches a regulation to the EVENT mediating a protein,
    # not the protein itself, whenever such an event exists ("enhanced
    # [IL-2R expression]" -> Theme: Gene_expression(IL-2R), never Theme:
    # IL-2R). Relational two-pass form: first pass picks every anchor's
    # nearest span filler; a frame candidate is then "covering" iff its
    # own first-pass span theme equals this anchor's nearest span. A
    # covering frame outranks the kind preference — it is direct evidence
    # the protein's involvement is mediated. Everything is a window/join
    # over the same (doc_id, instance_idx) keys; no iteration, no UDF.
    anchor_key = ["doc_id", "instance_idx", "a_left", "a_right", "anchor_type"]
    w_span = Window.partitionBy(*anchor_key).orderBy(
        F.col("char_distance").asc(), F.col("f_left").asc(), F.col("f_right").asc()
    )
    span_best = (
        pairs.where(F.col("filler_kind") == "span")
        .withColumn("_srk", F.row_number().over(w_span))
        .where(F.col("_srk") == 1)
        .select(*anchor_key, F.col("f_left").alias("s_left"), F.col("f_right").alias("s_right"))
    )
    own_span = span_best.select(
        *anchor_key,
        F.col("s_left").alias("_own_sl"), F.col("s_right").alias("_own_sr"),
    )
    filler_span = span_best.select(
        "doc_id", "instance_idx",
        F.col("a_left").alias("f_left"), F.col("a_right").alias("f_right"),
        F.col("anchor_type").alias("f_anchor_type"),
        F.col("s_left").alias("_fil_sl"), F.col("s_right").alias("_fil_sr"),
    )
    pairs = (
        pairs.join(own_span, anchor_key, "left")
        .join(filler_span, ["doc_id", "instance_idx", "f_left", "f_right", "f_anchor_type"], "left")
        .withColumn(
            "covers",
            F.coalesce(
                (F.col("filler_kind") == "frame")
                & (F.col("_fil_sl") == F.col("_own_sl"))
                & (F.col("_fil_sr") == F.col("_own_sr")),
                F.lit(False),
            ),
        )
    )
    # Contention: at most ONE parent per child frame, else every covering
    # anchor grabs the same child and the merged component can no longer
    # be isomorphic to gold's small parent->child chains. Ordering is
    # train-derived: anchor types whose learned theme-kind preference is
    # already "frame" (the majority-frame-theme regulation types) are the
    # most plausible event-parents; then the more confident tagger score;
    # then the nearest. Losers keep their normal preference ordering.
    w_fill = Window.partitionBy("doc_id", "instance_idx", "filler_tag").orderBy(
        (~F.col("covers")).cast("int"),
        (F.coalesce(F.col("pref_kind"), F.lit("span")) != "frame").cast("int"),
        F.col("a_score").desc_nulls_last(),
        F.col("char_distance").asc(),
        F.col("a_left").asc(),
        F.col("a_right").asc(),
        F.col("anchor_type").asc(),
    )
    pairs = pairs.withColumn(
        "covers", F.col("covers") & (F.row_number().over(w_fill) == 1)
    )
    w = Window.partitionBy(*anchor_key).orderBy(
        (~F.col("covers")).cast("int"),
        (F.col("filler_kind") != F.coalesce(F.col("pref_kind"), F.lit("span"))).cast("int"),
        F.col("char_distance").asc(),
        F.col("f_left").asc(),
        F.col("filler_kind").asc(),
        F.col("f_right").asc(),
        F.col("filler_tag").asc(),
    )
    # Single-level promotion: a frame that ITSELF promotes (its covers
    # edge won contention) stops being covering evidence for its stale
    # first-pass protein — chained promotion compounds tagger errors
    # multiplicatively, and under CC-isomorphism scoring one wrongly
    # promoted parent destroys its entire subtree's component. Clearing
    # covers on promoted fillers bounds the blast radius to one level
    # and makes the promotion edge set a star forest (provably acyclic:
    # every surviving edge's child has no covers edge of its own).
    promoted = (
        pairs.where(F.col("covers"))
        .select(
            "doc_id", "instance_idx",
            F.col("a_left").alias("f_left"), F.col("a_right").alias("f_right"),
            F.col("anchor_type").alias("f_anchor_type"),
        )
        .distinct()
        .withColumn("_fprom", F.lit(True))
    )
    pairs = pairs.join(
        promoted, ["doc_id", "instance_idx", "f_left", "f_right", "f_anchor_type"], "left"
    ).withColumn("covers", F.col("covers") & F.col("_fprom").isNull())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .withColumn("frame_type", F.col("anchor_type"))
        .withColumn("tag", _frame_tag("frame_type"))
    )


# ---------------------------------------------------------------------------
# Output: one emitter, one prune, one hypothesis builder
# ---------------------------------------------------------------------------

def _hypo(
    corpus: Dict[str, DataFrame],
    triggers: DataFrame,
    best: DataFrame,
    prune_rounds: int = 0,
) -> Dict[str, DataFrame]:
    """Hypothesis corpus in the BRAT shape, ready for evaluate/dump_brat:
    the given spans kept, every trigger as a predicted span, and one
    frame per `best` row with two fills — the anchor slot (named like the
    frame type, filled by the trigger span's synthetic tag) and its Theme.

    With ``prune_rounds`` the frames are checkpointed and cascade-pruned:
    a frame whose frame-kind Theme references no surviving frame dies
    (Theme has mincard 1), which can orphan its own parent next round."""
    frames = best.select(
        "doc_id", "tag", "frame_type",
        F.lit("predicted").alias("source"),
        F.lit(0).alias("line_no"), F.lit(None).cast("int").alias("file_index"),
        "instance_idx",
    )
    fills = best.select(
        "frame_type", F.col("frame_type").alias("slot_name"), "doc_id",
        F.lit("predicted").alias("source"), F.col("tag").alias("frame_tag"),
        F.lit(0).alias("fill_idx"),
        F.concat_ws(":", F.lit("PT"), "instance_idx", "a_left", "a_right").alias("filler_tag"),
        F.lit("span").alias("filler_kind"),
    ).unionByName(
        best.select(
            "frame_type", F.lit("Theme").alias("slot_name"), "doc_id",
            F.lit("predicted").alias("source"), F.col("tag").alias("frame_tag"),
            F.lit(1).alias("fill_idx"), "filler_tag", "filler_kind",
        )
    )
    if prune_rounds:
        frames = frames.localCheckpoint(eager=True)
        fills = fills.localCheckpoint(eager=True)
    for _ in range(prune_rounds):
        valid_tags = frames.select("doc_id", F.col("tag").alias("filler_tag"))
        bad_theme = fills.where(
            (F.col("slot_name") == "Theme") & (F.col("filler_kind") == "frame")
        ).join(valid_tags, ["doc_id", "filler_tag"], "left_anti").select(
            "doc_id", F.col("frame_tag").alias("tag")
        )
        if bad_theme.count() == 0:
            break
        frames = frames.join(bad_theme, ["doc_id", "tag"], "left_anti").localCheckpoint(eager=True)
        fills = fills.join(
            frames.select("doc_id", F.col("tag").alias("frame_tag")),
            ["doc_id", "frame_tag"], "left_semi",
        ).localCheckpoint(eager=True)
    trigger_spans = triggers.select(
        "doc_id", "instance_idx",
        F.concat_ws(":", F.lit("PT"), "instance_idx", "left", "right").alias("tag"),
        "span_type", "left", "right",
        F.col("text").alias("span_text"), F.col("text").alias("text"),
        F.lit("predicted").alias("source"),
        F.lit(None).cast("int").alias("file_index"), F.lit(0).alias("line_no"),
    )
    return {
        "instances": corpus["instances"],
        "spans": corpus["spans"].where(F.col("source") == "given").unionByName(trigger_spans),
        "frames": frames,
        "slot_fills": fills,
    }


def predicted_corpus(
    spark: SparkSession, corpus: Dict[str, DataFrame], spec: TaskSpecification,
    gazetteer: DataFrame,
    triggers: DataFrame | None = None,
) -> Dict[str, DataFrame]:
    """What CLI `predict` ships: given spans kept, gold stripped, triggers
    + flat nearest-Theme frames predicted. ``triggers`` overrides the
    gazetteer trigger stage (the learned-tagger CLI path)."""
    if triggers is None:
        triggers = detect_triggers(corpus, gazetteer)
    return _hypo(corpus, triggers, _flat_arcs(spark, spec, corpus, triggers))


# ---------------------------------------------------------------------------
# Predictors — predict(spark, spec, train, corpus) -> hypothesis corpus —
# and the one evaluation entry point
# ---------------------------------------------------------------------------

def gazetteer_flat(spark, spec, train, corpus) -> Dict[str, DataFrame]:
    """Induced-gazetteer triggers, flat nearest-Theme arcs."""
    return predicted_corpus(spark, corpus, spec, induce_trigger_gazetteer(train))


def gazetteer_nested(spark, spec, train, corpus) -> Dict[str, DataFrame]:
    """Precision-filtered induced-gazetteer triggers, nested arcs."""
    gaz = induce_trigger_gazetteer_filtered(train, _MIN_TRIGGER_PRECISION)
    triggers = detect_triggers(corpus, gaz)
    best = _nested_arcs(spark, spec, train, corpus, triggers)
    return _hypo(corpus, triggers, best, _PRUNE_ROUNDS)


def tagged_nested(spark, spec, train, corpus) -> Dict[str, DataFrame]:
    """Calibrated tagger triggers (reference gazetteer candidates), nested
    arcs."""
    triggers = tagged_triggers(spark, train, corpus)
    best = _nested_arcs(spark, spec, train, corpus, triggers)
    return _hypo(corpus, triggers, best, _PRUNE_ROUNDS)


def learned_nested(spark, spec, train, corpus) -> Dict[str, DataFrame]:
    """Both stages of a freshly trained `LearnedNestedModel`."""
    return predict_learned_nested(spark, train_learned_nested(spark, train), corpus)


def run_bionlp_eval(
    spark: SparkSession, train_dir: str, eval_dir: str, predict: Predictor
) -> EvalResult:
    """Load the spec and both BRAT corpora once, predict on the eval
    corpus (its gold stays out of the predictors' reach: they read only
    given spans and text) and score against its gold."""
    spec = load_task_spec(BIONLP_SPEC)
    train = load_brat(spark, train_dir, spec)
    gold = load_brat(spark, eval_dir, spec)
    return evaluate(predict(spark, spec, train, gold), gold)


# ---------------------------------------------------------------------------
# Theme direction/distance statistics from train gold (the J2 gold-arc
# join as a TRAINING job; model = tiny dict)
# ---------------------------------------------------------------------------

def train_theme_model(train: Dict[str, DataFrame]) -> Dict[str, Tuple[int, int]]:
    """Learn, per frame type, the preferred Theme direction and a distance
    budget from gold arcs.

    Training data = gold frames' (anchor span, Theme span filler) pairs —
    the reference's gold-arc join J2 (slot_classifier.py:348-358). Returns
    {frame_type: (direction, max_char_distance)} where direction is +1
    (Theme typically after the trigger), -1 (before), and the budget is
    the observed p90 distance (clamped to [40, 400]). CLI `train` stores
    it as artifact metadata; no predict path reads it.

    Everything is one distributed aggregation.
    """
    frames = train["frames"].select(
        "doc_id", F.col("tag").alias("frame_tag"), "frame_type"
    )
    fills = train["slot_fills"].where(
        (F.col("slot_name") == "Theme") & (F.col("filler_kind") == "span")
    ).select("doc_id", "frame_tag", "filler_tag")
    spans = train["spans"].select(
        "doc_id", F.col("tag").alias("span_tag"),
        F.col("left").alias("s_left"), F.col("right").alias("s_right"),
        "span_type",
    )
    # anchor span of a gold frame: the trigger span whose type matches the
    # frame type (anchor slot fill)
    anchor_fills = train["slot_fills"].where(
        F.col("slot_name") == F.col("frame_type")
    ).select("doc_id", "frame_tag", F.col("filler_tag").alias("anchor_tag"))

    arcs = (
        frames.join(anchor_fills, ["doc_id", "frame_tag"])
        .join(
            spans.select(
                "doc_id", F.col("span_tag").alias("anchor_tag"),
                F.col("s_left").alias("a_left"), F.col("s_right").alias("a_right"),
            ),
            ["doc_id", "anchor_tag"],
        )
        .join(fills, ["doc_id", "frame_tag"])
        .join(
            spans.select(
                "doc_id", F.col("span_tag").alias("filler_tag"),
                "s_left", "s_right", F.col("span_type").alias("filler_type"),
            ),
            ["doc_id", "filler_tag"],
        )
        .where(F.col("filler_type") == "Protein")
        .select(
            "frame_type",
            F.when(F.col("s_left") >= F.col("a_right"), 1).otherwise(-1).alias("direction"),
            F.when(
                F.col("s_left") >= F.col("a_right"), F.col("s_left") - F.col("a_right")
            )
            .otherwise(F.col("a_left") - F.col("s_right"))
            .alias("distance"),
        )
    )
    stats = (
        arcs.groupBy("frame_type")
        .agg(
            F.sum("direction").alias("dir_sum"),
            F.expr("percentile_approx(distance, 0.9)").alias("p90"),
        )
        .collect()
    )
    return {
        r["frame_type"]: (
            1 if r["dir_sum"] >= 0 else -1,
            int(min(max(r["p90"], 40), 400)),
        )
        for r in stats
    }


# ---------------------------------------------------------------------------
# Learned nested extraction (r2): two logistic stages, both trained on the
# DISTRIBUTIONS they see at predict time.
#
#   Stage A (M1/M2 analog): a trigger-viability model over gazetteer hits —
#   features are corpus statistics (occurrence precision of the surface as
#   a trigger), geometry (distance to the nearest Protein), and context
#   (title line, capitalization) — so false-positive gazetteer matches are
#   rejected BEFORE pair generation. Training labels: does the hit match a
#   gold trigger span by identity. This lifted tutorial/train span F1
#   0.678 -> 0.806.
#
#   Stage B (M3/M4): ONE model ranks all Theme candidates across BOTH
#   filler kinds (Protein spans and nested frames) with W4 between-text
#   cues, geometry, rank features and type interactions. Anchors come from
#   stage A's own output on train (NOT teacher-forced gold anchors), so
#   the model sees surviving false-positive anchors as all-negative groups
#   and learns to starve them below the emission threshold.
#
#   Emission: every pair with p >= threshold becomes its own frame, capped
#   at max_k per anchor — coordinated themes ("levels of FOSB and FOS" is
#   TWO gold events sharing one trigger; 6 of 69 tutorial anchors carry 2
#   frames) are recalled, which argmax-per-anchor structurally cannot do.
#   Regulations may take frame-kind fillers referencing the top-ranked
#   (k=0) frame of an inner anchor; dangling references cascade-prune.
# ---------------------------------------------------------------------------

TRIG_FEATURE_COLS = (
    ["trig_prec", "trig_logn", "is_title", "cap", "tok_len", "n_prot", "prot_dist"]
    + [f"t_is_{t}" for t in _TRIGGER_TYPES]
)

NESTED_FEATURE_COLS = (
    [
        "dist_scaled", "dist_log", "direction", "starts_of", "has_of",
        "has_by", "has_comma", "n_words_between", "kind_frame", "is_reg",
        "kindreg", "rankf", "fwd_rank", "first_fwd", "trig_prec", "trig_logn",
    ]
    + [f"is_{t}" for t in _TRIGGER_TYPES]
    + [f"dir_{t}" for t in _TRIGGER_TYPES]
)



def trigger_stats(train: Dict[str, DataFrame]) -> DataFrame:
    """(term, trig_prec, trig_logn): how often a lowercased surface occurs
    as a gold trigger relative to its corpus occurrences — the continuous
    form of induce_trigger_gazetteer_filtered's hard threshold.

    Known, MEASURED-ACCEPTED denominator mismatch: n_occ counts RAW tokens
    while detection matches trimmed cores, so punctuation-adjacent
    occurrences are missed and trig_prec runs slightly high for such
    terms. Unlike the hard filter (which this mismatch made terms VANISH
    from — fixed there), the right join's fallback denominator keeps every
    trigger term present here, and trig_prec is a continuous FEATURE
    feeding fitted-and-calibrated models. The r6 A/B (BASELINE.md)
    retrained both stages on tutorial/train under the trimmed-core
    denominator: raw 0.8062 span / 0.4172 frame F1 vs cores 0.8095 /
    0.4151 — a precision/recall trade (span P 0.8667 -> 0.8947, R 0.7536
    -> 0.7391) with frame F1 slightly down, so the raw definition stays."""
    inst = train["instances"].select(
        F.concat_ws("#", "doc_id", "instance_idx").alias("doc_id"), "text"
    )
    occ = (
        tokenize(inst).select(F.lower("token").alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("n_occ"))
    )
    tr = (
        train["spans"].where(F.col("source") == "gold")
        .groupBy(F.lower(F.col("text")).alias("term"))
        .agg(F.count(F.lit(1)).alias("n_trig"))
    )
    return occ.join(tr, "term", "right").select(
        "term",
        (
            F.col("n_trig")
            / F.greatest(F.coalesce("n_occ", F.col("n_trig")), F.col("n_trig"))
        ).alias("trig_prec"),
        F.log1p("n_trig").alias("trig_logn"),
    )


def _trigger_features(
    corpus: Dict[str, DataFrame], detected: DataFrame, stats: DataFrame
) -> DataFrame:
    """Stage-A feature columns over detected gazetteer hits."""
    prot = corpus["spans"].where(
        (F.col("source") == "given") & (F.col("span_type") == "Protein")
    ).select(
        "doc_id", "instance_idx",
        F.col("left").alias("p_left"), F.col("right").alias("p_right"),
    )
    np_inst = prot.groupBy("doc_id", "instance_idx").agg(F.count("*").alias("_np"))
    d = (
        detected.join(F.broadcast(stats), F.lower(F.col("text")) == stats["term"], "left")
        .drop("term")
        .withColumn("trig_prec", F.coalesce("trig_prec", F.lit(0.0)))
        .withColumn("trig_logn", F.coalesce("trig_logn", F.lit(0.0)))
        .withColumn("is_title", F.when(F.col("instance_idx") == 0, 1.0).otherwise(0.0))
        .withColumn("cap", F.when(F.col("text").rlike("^[A-Z]"), 1.0).otherwise(0.0))
        .withColumn("tok_len", F.length("text") / 10.0)
        .join(np_inst, ["doc_id", "instance_idx"], "left")
        .withColumn("n_prot", F.coalesce(F.col("_np"), F.lit(0)) / 5.0)
        .drop("_np")
    )
    pd_ = (
        detected.join(prot, ["doc_id", "instance_idx"])
        .withColumn(
            "_pd",
            F.when(F.col("p_left") >= F.col("right"), F.col("p_left") - F.col("right"))
            .otherwise(F.col("left") - F.col("p_right")),
        )
        .groupBy("doc_id", "instance_idx", "left", "right")
        .agg(F.min("_pd").alias("_minpd"))
    )
    d = (
        d.join(pd_, ["doc_id", "instance_idx", "left", "right"], "left")
        .withColumn(
            "prot_dist",
            F.log1p(F.greatest(F.coalesce(F.col("_minpd"), F.lit(999)), F.lit(0))),
        )
        .drop("_minpd")
    )
    for t in _TRIGGER_TYPES:
        d = d.withColumn(f"t_is_{t}", F.when(F.col("span_type") == t, 1.0).otherwise(0.0))
    return d


def _nested_pair_features(
    pairs: DataFrame, instances: DataFrame, stats: DataFrame
) -> DataFrame:
    """Stage-B features: W4 between-text cues + geometry + rank windows +
    type interactions + the anchor's trigger statistics. All JVM-side."""
    inst = instances.select("doc_id", "instance_idx", F.col("text").alias("i_text"))
    out = (
        pairs.withColumn("char_distance", _char_distance())
        .join(inst, ["doc_id", "instance_idx"])
        .withColumn(
            "between",
            F.when(
                F.col("f_left") >= F.col("a_right"),
                F.expr("substring(i_text, a_right+1, f_left-a_right)"),
            ).otherwise(F.expr("substring(i_text, f_right+1, a_left-f_right)")),
        )
        .drop("i_text")
        .withColumn("direction", F.when(F.col("f_left") >= F.col("a_right"), 1.0).otherwise(-1.0))
        .withColumn("dist_scaled", F.col("char_distance") / 100.0)
        .withColumn("dist_log", F.log1p(F.greatest(F.col("char_distance"), F.lit(0))))
        .withColumn(
            "starts_of",
            F.when(
                (F.col("direction") == 1.0) & F.col("between").rlike(r"^ ?of\b"), 1.0
            ).otherwise(0.0),
        )
        .withColumn("has_of", F.when(F.col("between").rlike(r"\bof\b"), 1.0).otherwise(0.0))
        .withColumn("has_by", F.when(F.col("between").rlike(r"\bby\b"), 1.0).otherwise(0.0))
        .withColumn("has_comma", F.when(F.col("between").contains(","), 1.0).otherwise(0.0))
        .withColumn("n_words_between", F.size(F.split(F.trim(F.col("between")), r"\s+")) / 10.0)
        .withColumn("kind_frame", F.when(F.col("filler_kind") == "frame", 1.0).otherwise(0.0))
        .withColumn(
            "is_reg",
            F.when(F.col("anchor_type").isin(*_REGULATION_TYPES), 1.0).otherwise(0.0),
        )
        .withColumn("kindreg", F.col("kind_frame") * F.col("is_reg"))
        .join(F.broadcast(stats), F.lower(F.col("anchor_text")) == stats["term"], "left")
        .drop("term")
        .withColumn("trig_prec", F.coalesce("trig_prec", F.lit(0.0)))
        .withColumn("trig_logn", F.coalesce("trig_logn", F.lit(0.0)))
    )
    group = ["doc_id", "instance_idx", "a_left", "a_right", "anchor_type"]
    wr = Window.partitionBy(*group).orderBy(F.col("char_distance").asc(), F.col("f_left").asc())
    out = out.withColumn("rankf", (F.row_number().over(wr) - 1) / 5.0)
    wf = Window.partitionBy(*group, "direction").orderBy(
        F.col("char_distance").asc(), F.col("f_left").asc()
    )
    out = out.withColumn("fwd_rank", (F.row_number().over(wf) - 1) / 5.0)
    out = out.withColumn(
        "first_fwd",
        F.when((F.col("direction") == 1.0) & (F.col("fwd_rank") == 0.0), 1.0).otherwise(0.0),
    )
    for t in _TRIGGER_TYPES:
        out = out.withColumn(f"is_{t}", F.when(F.col("anchor_type") == t, 1.0).otherwise(0.0))
        out = out.withColumn(f"dir_{t}", F.col(f"is_{t}") * F.col("direction"))
    return out


def _nested_candidates(
    corpus: Dict[str, DataFrame], anchors: DataFrame
) -> DataFrame:
    """Theme candidates per anchor: given Proteins ∪ the k=0 frame of
    every anchor (frame-kind, regulations only downstream)."""
    prot = corpus["spans"].where(
        (F.col("source") == "given") & (F.col("span_type") == "Protein")
    ).select(
        "doc_id", "instance_idx",
        F.col("left").alias("f_left"), F.col("right").alias("f_right"),
        F.col("tag").alias("filler_tag"), F.lit("span").alias("filler_kind"),
    )
    fc = anchors.select(
        "doc_id", "instance_idx",
        F.col("a_left").alias("f_left"), F.col("a_right").alias("f_right"),
        _frame_tag("anchor_type", F.lit("0")).alias("filler_tag"),
        F.lit("frame").alias("filler_kind"),
    )
    cands = prot.unionByName(fc)
    return (
        anchors.join(cands, ["doc_id", "instance_idx"])
        .where(~((F.col("f_left") == F.col("a_left")) & (F.col("f_right") == F.col("a_right"))))
        .where(
            (F.col("filler_kind") == "span")
            | F.col("anchor_type").isin(*_REGULATION_TYPES)
        )
    )


def _gold_arc_label_set(corpus: Dict[str, DataFrame]) -> DataFrame:
    """Positive labels keyed by anchor IDENTITY (not gold frame tag) so
    they join against detected anchors: span-kind arcs keep the Protein
    tag; frame-kind arcs map the inner gold frame to its anchor-identity
    k=0 tag."""
    frames = corpus["frames"].select(
        "doc_id", F.col("tag").alias("frame_tag"), "frame_type", "instance_idx"
    )
    af = corpus["slot_fills"].where(F.col("slot_name") == F.col("frame_type")).select(
        "doc_id", "frame_tag", F.col("filler_tag").alias("anchor_tag")
    )
    sp = corpus["spans"].select(
        "doc_id", F.col("tag").alias("anchor_tag"), "left", "right", "instance_idx"
    )
    ganch = (
        frames.join(af, ["doc_id", "frame_tag"])
        .join(sp, ["doc_id", "anchor_tag", "instance_idx"])
        .select(
            "doc_id", "instance_idx", "frame_tag",
            F.col("frame_type").alias("anchor_type"),
            F.col("left").alias("a_left"), F.col("right").alias("a_right"),
        )
    )
    themes = corpus["slot_fills"].where(F.col("slot_name") == "Theme").select(
        "doc_id", "frame_tag", "filler_tag", "filler_kind"
    )
    arcs = ganch.join(themes, ["doc_id", "frame_tag"])
    span_arcs = arcs.where("filler_kind = 'span'").select(
        "doc_id", "instance_idx", "anchor_type", "a_left", "a_right", "filler_tag"
    )
    inner = ganch.select(
        "doc_id", F.col("frame_tag").alias("filler_tag"),
        _frame_tag("anchor_type", F.lit("0")).alias("mapped_tag"),
    )
    frame_arcs = (
        arcs.where("filler_kind = 'frame'")
        .join(inner, ["doc_id", "filler_tag"])
        .select(
            "doc_id", "instance_idx", "anchor_type", "a_left", "a_right",
            F.col("mapped_tag").alias("filler_tag"),
        )
    )
    return span_arcs.unionByName(frame_arcs).withColumn("label", F.lit(1.0)).distinct()



@dataclass(frozen=True)
class LearnedNestedModel:
    """The persisted artifact of the two-stage learned nested extractor
    (M1-M4 lifecycle: train -> save_model -> load_model -> predict, the
    reference's Model.save/load contract, dere/models/__init__.py).

    Both logistic stages plus the induced gazetteer and trigger
    statistics as plain row tuples — tiny, picklable, broadcast at
    predict time through the plans/models.py manifest machinery."""

    tmodel: object  # stage-A LogisticModel
    model: object   # stage-B LogisticModel
    gaz_rows: tuple          # (term, span_type)
    stats_rows: tuple        # (term, trig_prec, trig_logn)
    trigger_threshold: float
    threshold: float
    max_k: int
    max_dist: int
    prune_rounds: int

    def gaz_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            list(self.gaz_rows), "term string, span_type string"
        )

    def stats_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            list(self.stats_rows), "term string, trig_prec double, trig_logn double"
        )



#: Above this row count a stage fit runs with distributed gradients
#: (executor-side Σ g·x partials, driver folds num_buckets scalars)
#: instead of collecting the design matrix; weights agree to ~1e-9
#: (tests/test_logreg.py), so the switch is a pure execution choice.
DISTRIBUTED_FIT_THRESHOLD = 50_000


def _viable_triggers(tfeats: DataFrame, tmodel, trigger_threshold: float) -> DataFrame:
    """Stage A applied: gazetteer hits the viability model keeps."""
    return tfeats.withColumn("_tp", tmodel.score_column()).where(
        F.col("_tp") >= trigger_threshold
    )


def _theme_candidates(
    corpus: Dict[str, DataFrame], kept: DataFrame, stats: DataFrame, max_dist: int
) -> DataFrame:
    """Stage-B feature rows: every Theme candidate of every kept anchor."""
    anchors = kept.select(
        "doc_id", "instance_idx", F.col("span_type").alias("anchor_type"),
        F.col("left").alias("a_left"), F.col("right").alias("a_right"),
        F.col("text").alias("anchor_text"),
    )
    return _nested_pair_features(
        _nested_candidates(corpus, anchors), corpus["instances"], stats
    ).where(F.col("char_distance") <= max_dist)


def train_learned_nested(
    spark: SparkSession,
    train: Dict[str, DataFrame],
    trigger_threshold: float = 0.7,
    threshold: float = 0.5,
    max_k: int = 3,
    max_dist: int = 300,
    prune_rounds: int = 3,
    iterations: int = 600,
) -> LearnedNestedModel:
    """Train both stages on a loaded BRAT corpus and package the artifact.

    tutorial/train self-eval (the setting of COVERAGE.md's recorded
    numbers): frame F1 0.4172, span F1 0.8062 at the defaults — vs 0.25 /
    0.678 for the heuristic nested path and the 0.4444 span-only ceiling.
    Held-out tutorial/test is gazetteer-recall-bound (only 13 of 44 gold
    triggers even appear in the train vocabulary): span F1 0.377, frame
    F1 0.02."""
    from dere_spark.operators.logreg import fit_logistic, fit_logistic_distributed

    gaz = induce_trigger_gazetteer(train)
    stats = trigger_stats(train)

    def fit(df: DataFrame, cols) -> "LogisticModel":
        if df.count() > DISTRIBUTED_FIT_THRESHOLD:
            return fit_logistic_distributed(df, cols, iterations=iterations, lr=1.0)
        return fit_logistic(df, cols, iterations=iterations, lr=1.0)

    # Stage A: trigger viability
    tf_tr = _trigger_features(train, detect_triggers(train, gaz), stats)
    gold_trig = train["spans"].where(F.col("source") == "gold").select(
        "doc_id", "instance_idx", "left", "right", "span_type"
    ).withColumn("label", F.lit(1.0))
    ttrain = tf_tr.join(
        gold_trig, ["doc_id", "instance_idx", "left", "right", "span_type"], "left"
    ).withColumn("label", F.coalesce("label", F.lit(0.0)))
    tmodel = fit(ttrain, TRIG_FEATURE_COLS)

    # Stage B: theme ranking, trained on stage A's own output
    labels = _gold_arc_label_set(train)
    tpdf = (
        _theme_candidates(train, _viable_triggers(tf_tr, tmodel, trigger_threshold), stats, max_dist)
        .join(
            labels,
            ["doc_id", "instance_idx", "anchor_type", "a_left", "a_right", "filler_tag"],
            "left",
        )
        .withColumn("label", F.coalesce("label", F.lit(0.0)))
    )
    model = fit(tpdf, NESTED_FEATURE_COLS)
    return LearnedNestedModel(
        tmodel=tmodel,
        model=model,
        gaz_rows=tuple(sorted((r["term"], r["span_type"]) for r in gaz.collect())),
        stats_rows=tuple(
            sorted(
                (r["term"], float(r["trig_prec"]), float(r["trig_logn"]))
                for r in stats.collect()
            )
        ),
        trigger_threshold=trigger_threshold,
        threshold=threshold,
        max_k=max_k,
        max_dist=max_dist,
        prune_rounds=prune_rounds,
    )


def predict_learned_nested(
    spark: SparkSession, lm: LearnedNestedModel, corpus: Dict[str, DataFrame]
) -> Dict[str, DataFrame]:
    """Apply a (possibly loaded) artifact to a corpus; returns the hypo
    corpus dict ready for evaluate()/dump_brat()."""
    stats = lm.stats_df(spark)
    kept = _viable_triggers(
        _trigger_features(corpus, detect_triggers(corpus, lm.gaz_df(spark)), stats),
        lm.tmodel, lm.trigger_threshold,
    )
    # materialized before the threshold filter and the k-window: planned
    # on top of the un-cut feature plan, that filter + window took ~40 s
    # per action on a 4-document corpus (the lineage below is ~2 s)
    scored = _theme_candidates(corpus, kept, stats, lm.max_dist).withColumn(
        "p", lm.model.score_column()
    ).localCheckpoint(eager=True)
    wk = Window.partitionBy("doc_id", "instance_idx", "a_left", "a_right", "anchor_type").orderBy(
        F.col("p").desc(), F.col("f_left").asc(), F.col("filler_kind").asc()
    )
    best = (
        scored.where(F.col("p") >= lm.threshold)
        .withColumn("k", F.row_number().over(wk) - 1)
        .where(F.col("k") < lm.max_k)
        .withColumn("frame_type", F.col("anchor_type"))
        .withColumn("tag", _frame_tag("anchor_type", F.col("k").cast("string")))
    )
    return _hypo(corpus, kept, best, lm.prune_rounds)


# ---------------------------------------------------------------------------
# r3: learned trigger TAGGER over the reference's shipped gazetteer — the
# engine-native CRF stand-in (operators/tagger.py). Candidates are
# gazetteer hits (reference model spec read as data); a binary viability
# logistic with cross-fitted per-surface rates decides which hits are
# real triggers; types come from a deterministic rule table. This closes
# the held-out recall bound of the train-induced gazetteers (13/44 test
# trigger surfaces in train vocab vs 44/45 in the reference gazetteer).
# ---------------------------------------------------------------------------


def tagger_tokens(corpus: Dict[str, DataFrame]) -> DataFrame:
    """instance_core_tokens + protein flags + the cross-fit unit column:
    (doc_id='doc#inst', token_idx, core, tleft, tright, is_protein,
    src_doc)."""
    toks = instance_core_tokens(corpus)
    prot = corpus["spans"].where(
        (F.col("source") == "given") & (F.col("span_type") == "Protein")
    ).select(
        F.concat_ws("#", "doc_id", "instance_idx").alias("doc_id"),
        F.col("left").alias("p_left"),
        F.col("right").alias("p_right"),
    )
    inside = (
        toks.alias("t")
        .join(
            prot.alias("p"),
            (F.col("t.doc_id") == F.col("p.doc_id"))
            & (F.col("t.tleft") >= F.col("p.p_left"))
            & (F.col("t.tright") <= F.col("p.p_right")),
            "left_semi",
        )
        .select("doc_id", "token_idx")
        .withColumn("is_protein", F.lit(True))
    )
    return (
        toks.join(inside, ["doc_id", "token_idx"], "left")
        .withColumn("is_protein", F.coalesce("is_protein", F.lit(False)))
        .withColumn("src_doc", F.split_part("doc_id", F.lit("#"), F.lit(1)))
    )


def _gold_trigger_starts(corpus: Dict[str, DataFrame], toks: DataFrame) -> DataFrame:
    """(doc_id, token_idx) of tokens exactly matching a gold trigger span."""
    gold = corpus["spans"].where(F.col("source") == "gold").select(
        F.concat_ws("#", "doc_id", "instance_idx").alias("doc_id"),
        F.col("left").alias("g_left"),
        F.col("right").alias("g_right"),
    )
    return (
        toks.alias("t")
        .join(
            gold.alias("g"),
            (F.col("t.doc_id") == F.col("g.doc_id"))
            & (F.col("t.tleft") == F.col("g.g_left"))
            & (F.col("t.tright") == F.col("g.g_right")),
            "left_semi",
        )
        .select("doc_id", "token_idx")
        .distinct()
    )


def train_trigger_tagger(
    spark: SparkSession,
    train: Dict[str, DataFrame],
    gazetteer: DataFrame | None = None,
    return_intermediates: bool = False,
    **fit_kw,
):
    """Fit the viability tagger on a loaded BRAT train corpus.

    Returns (model, type_table, rates_totals, gazetteer) — everything
    `detect_triggers_tagged` needs. Training candidates see CROSS-FITTED
    per-surface rates (leave-own-document-out, computed relationally) so
    unseen-surface features carry learned weight.

    ``return_intermediates=True`` appends (toks, own_rates) to the tuple
    so `calibrate_unseen_thresholds` can reuse them instead of
    re-tokenizing the corpus (the localCheckpointed toks below exist
    precisely because these plans are the expensive part of training).
    """
    from dere_spark.operators.tagger import (
        candidate_features,
        fit_viability,
        load_reference_gazetteer,
        surface_rates,
        type_assignment,
    )

    gaz = gazetteer if gazetteer is not None else load_reference_gazetteer(spark)
    toks = tagger_tokens(train).localCheckpoint()
    labels = _gold_trigger_starts(train, toks)
    totals = surface_rates(toks, labels)
    own = surface_rates(toks, labels, unit_col="src_doc")
    # hyphen_subtokens=False: the FIT's candidate universe stays whole-
    # token (train has ~zero embedded-gold signal — 1 example, not even
    # hyphenated — so training on subtoken rows only perturbs the weights;
    # measured A/B in BASELINE.md r5 probe B: refitting with subtokens
    # added ~8 main-token FPs on held-out). Subtokens are emitted at
    # PREDICT time only and scored by this same model; the calibrations
    # then see them through trig_train and can gate them per type.
    cands = candidate_features(
        toks, gaz, totals, own, "src_doc", hyphen_subtokens=False
    )
    # label by OFFSETS, not token_idx: for whole-token candidates this is
    # identical to the old token_idx join because the labels themselves
    # were derived from the same offset equality; it also labels any
    # future non-whole-token candidate class correctly
    gold_off = (
        train["spans"].where(F.col("source") == "gold")
        .select(
            F.concat_ws("#", "doc_id", "instance_idx").alias("doc_id"),
            F.col("left").alias("_g_left"),
            F.col("right").alias("_g_right"),
        )
        .distinct()
        .withColumn("label", F.lit(1))
    )
    labeled = (
        cands.join(
            gold_off,
            (cands["doc_id"] == gold_off["doc_id"])
            & (cands["tleft"] == gold_off["_g_left"])
            & (cands["tright"] == gold_off["_g_right"]),
            "left",
        )
        .drop(gold_off["doc_id"])
        .drop("_g_left", "_g_right")
        .withColumn("label", F.coalesce("label", F.lit(0)))
    )
    model = fit_viability(labeled, **fit_kw)
    surfaces = train["spans"].where(F.col("source") == "gold").select(
        F.lower("text").alias("term"), "span_type"
    )
    ttable = type_assignment(gaz, surfaces).localCheckpoint()
    if return_intermediates:
        return model, ttable, totals.localCheckpoint(), gaz, toks, own
    return model, ttable, totals.localCheckpoint(), gaz


def calibrate_type_thresholds(
    train: Dict[str, DataFrame],
    triggers_train: DataFrame,
    grid: tuple = (0.6, 0.7, 0.8, 0.9),
) -> Dict[str, float]:
    """Per-type minimum-score calibration, tuned on TRAIN span F1 only
    (VERDICT r3 #7): the global seen/unseen viability thresholds were
    never per-type tuned, and some types (e.g. Localization) only
    predict well at high confidence. Greedy coordinate ascent over a
    small grid, one type at a time in sorted order; a type keeps 0.0
    (no extra threshold) unless raising it improves train F1.

    Physical shape (VERDICT r4 "What's wrong #2" — was a driver-
    orchestrated job storm of ~types*grid*3 sequential tiny counts): ONE
    count over gold plus ONE aggregation over predictions. Predictions
    collapse to distinct spans keyed with their MAX score (a span survives
    a per-type threshold th iff any of its rows scores >= th, i.e. iff
    max >= th — identical to the old filter-then-distinct), get a TP mark
    from a gold join, and groupBy(span_type) emits survivor/TP counts at
    every grid threshold. The greedy coordinate ascent then runs entirely
    driver-side on those integers — same visit order, same F1 arithmetic,
    same 1e-6 improvement rule, so the learned thresholds are identical
    (pinned by test on the tutorial corpus: 0.8 Localization / 0.6
    Positive_regulation).

    Measured r4 quality: train span F1 0.7681 -> 0.7794, held-out 0.4773
    -> 0.506 span / 0.1778 -> 0.1882 frame (A/B in BASELINE.md — improves
    train AND held-out, so it is calibration, not test tuning).

    Known estimation limit (r5 review): ``triggers_train`` is already
    subtoken-suppressed at base gates, so this count matrix cannot see a
    subtoken that would RESURFACE at deployment when a floor kills its
    host (deployment applies floors BEFORE suppression). Measured on the
    tutorial corpus at the learned floors: zero resurrected spans
    (detect-with-floors minus detect-without-floors is empty), so the
    estimate is exact for the shipped config; the downstream
    `calibrate_unseen_thresholds` models the host coupling per-row over
    whatever floors this function returns."""
    key = ["doc_id", "instance_idx", "span_type", "left", "right"]
    gold = (
        train["spans"].where(F.col("source") == "gold")
        .select(*key)
        .distinct()
    )
    n_gold = gold.count()

    marked = (
        triggers_train.select(*key, "score")
        .groupBy(*key)
        .agg(F.max("score").alias("_smax"))
        .join(gold.withColumn("_g", F.lit(1)), key, "left")
        .withColumn("_tp", F.col("_g").isNotNull())
    )
    thresholds = (0.0,) + tuple(grid)
    aggs = []
    for i, th in enumerate(thresholds):
        # th == 0.0 means "no filter" in the old semantics — count all
        survives = F.lit(True) if th == 0.0 else (F.col("_smax") >= F.lit(float(th)))
        aggs.append(F.sum(F.when(survives, 1).otherwise(0)).alias(f"p{i}"))
        aggs.append(
            F.sum(F.when(survives & F.col("_tp"), 1).otherwise(0)).alias(f"t{i}")
        )
    rows = marked.groupBy("span_type").agg(*aggs).collect()
    pred_at = {
        r["span_type"]: {th: int(r[f"p{i}"]) for i, th in enumerate(thresholds)}
        for r in rows
    }
    tp_at = {
        r["span_type"]: {th: int(r[f"t{i}"]) for i, th in enumerate(thresholds)}
        for r in rows
    }

    def f1(thr: Dict[str, float]) -> float:
        n_pred = sum(pred_at[t][thr[t]] for t in pred_at)
        tp = sum(tp_at[t][thr[t]] for t in tp_at)
        prec = tp / n_pred if n_pred else 0.0
        rec = tp / n_gold if n_gold else 0.0
        return 2 * prec * rec / (prec + rec) if prec + rec else 0.0

    types = sorted(pred_at)
    best: Dict[str, float] = {t: 0.0 for t in types}
    cur = f1(best)
    for t in types:
        for cand in grid:
            trial = dict(best)
            trial[t] = cand
            score = f1(trial)
            if score > cur + 1e-6:
                cur, best = score, trial
    return {t: th for t, th in best.items() if th > 0}


def calibrate_unseen_thresholds(
    train: Dict[str, DataFrame],
    model,
    type_table: DataFrame,
    rates: DataFrame,
    gazetteer: DataFrame,
    type_thresholds: Dict[str, float] | None = None,
    grid: tuple = (0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95),
    toks: DataFrame | None = None,
    own: DataFrame | None = None,
) -> Dict[str, float]:
    """Per-type UNSEEN-candidate viability gates, tuned on TRAIN only
    (VERDICT r4 next-step #7a): the global unseen gate (0.75) was never
    per-type tuned — some types predict unseen surfaces reliably at much
    lower confidence (Phosphorylation) while others need more (Binding,
    Localization).

    On standard train detection every candidate is "seen" (its surface
    occurs in train by construction), so the calibration corpus is the
    CROSS-FITTED detection: each train document's candidates are scored
    with leave-own-document-out rates (operators/tagger.py surface_rates
    unit_col) — surfaces occurring only in their own document become
    unseen for it, exactly the way held-out surfaces are. This is the
    same cross-fitting the fit itself uses; nothing from the eval corpus
    is touched.

    Physical shape: one gold count + ONE aggregation collecting the
    distinct predicted spans (bounded by gazetteer hits on the ANNOTATED
    corpus — annotation size, not web scale, bounds the collect); the
    greedy ascent evaluates F1 driver-side over those rows. Per-row
    evaluation (rather than a per-threshold count matrix) is required
    for fidelity to deployment: `_suppress_covered_subtokens` drops a
    hyphen-subtoken prediction whenever its HOST token survives, and the
    host's survival depends on the host type's gate — a cross-type
    coupling a (span_type, seen, threshold) count matrix cannot express.
    Seen candidates keep their fixed gate max(model.threshold_seen,
    per-type floor) throughout. Returns only the types whose learned
    unseen gate differs from the default max(model.threshold_unseen,
    floor); loosening below the global 0.75 is allowed (and learned,
    e.g. Phosphorylation 0.55 on the tutorial corpus).

    ``toks``/``own`` accept the intermediates `train_trigger_tagger`
    already computed (return_intermediates=True) so the hot training
    path tokenizes the corpus once, not twice.

    Measured r5 (tutorial corpus): cross-fitted train span F1 0.7862 ->
    0.8219, held-out span F1 0.506 -> 0.5122 (A/B in BASELINE.md —
    improves the train-side objective AND held-out)."""
    from dere_spark.operators.tagger import (
        candidate_features,
        score_candidates,
        surface_rates,
    )

    floors = type_thresholds or {}
    if toks is None:
        toks = tagger_tokens(train).localCheckpoint()
    if own is None:
        own = surface_rates(toks, _gold_trigger_starts(train, toks), unit_col="src_doc")
    cands = candidate_features(toks, gazetteer, rates, own, "src_doc")
    scored = score_candidates(cands, model)  # keep ALL hits: custom gates
    typed = scored.join(
        F.broadcast(type_table), scored["low"] == type_table["term"], "inner"
    )
    spans = typed.select(
        "doc_id", "span_type",
        F.col("tleft").alias("left"), F.col("tright").alias("right"),
        "seen", F.col("viability").alias("score"), "token_idx",
    )
    # host-survival dimension for subtoken fidelity: one row per main
    # candidate token (type_assignment gives one type per surface, so
    # one type per token)
    hosts = (
        spans.where(F.col("token_idx") >= 0)
        .groupBy("doc_id", F.col("token_idx").alias("_h_idx"))
        .agg(
            F.max("score").alias("_h_smax"),
            F.max("seen").alias("_h_seen"),
            F.max("span_type").alias("_h_type"),
        )
    )
    # gold keyed the same way (tagger doc_id is "<doc>#<instance>")
    key = ["doc_id", "span_type", "left", "right"]
    gold = (
        train["spans"].where(F.col("source") == "gold")
        .select(
            F.concat_ws("#", "doc_id", "instance_idx").alias("doc_id"),
            "span_type", "left", "right",
        )
        .distinct()
    )
    n_gold = gold.count()

    rows = (
        spans.groupBy(*key)
        .agg(
            F.max("score").alias("_smax"),
            F.max("seen").alias("seen"),
            F.min("token_idx").alias("_tmin"),
        )
        # a span key is purely main or purely sub (sub offsets lie inside
        # their host token; tokens don't overlap), so _tmin identifies it
        .withColumn(
            "_h_idx",
            F.when(F.col("_tmin") < 0, -F.col("_tmin") - F.lit(1)),
        )
        .join(hosts, ["doc_id", "_h_idx"], "left")
        .join(gold.withColumn("_g", F.lit(1)), key, "left")
        .withColumn("_tp", F.col("_g").isNotNull())
        .select(
            "span_type", "seen", "_smax", "_tp",
            (F.col("_tmin") < 0).alias("_is_sub"),
            "_h_type", "_h_seen", "_h_smax",
        )
        .collect()
    )
    types = sorted({r["span_type"] for r in rows})
    s_def = {t: max(float(model.threshold_seen), floors.get(t, 0.0)) for t in types}
    u_def = {t: max(float(model.threshold_unseen), floors.get(t, 0.0)) for t in types}

    def f1(u: Dict[str, float]) -> float:
        n_pred = tp = 0
        for r in rows:
            g = s_def[r["span_type"]] if r["seen"] else u[r["span_type"]]
            if r["_smax"] < g:
                continue
            if r["_is_sub"] and r["_h_type"] is not None:
                # deployment parity: the gated host suppresses its subtoken
                hg = s_def[r["_h_type"]] if r["_h_seen"] else u[r["_h_type"]]
                if r["_h_smax"] >= hg:
                    continue
            n_pred += 1
            tp += int(r["_tp"])
        prec = tp / n_pred if n_pred else 0.0
        rec = tp / n_gold if n_gold else 0.0
        return 2 * prec * rec / (prec + rec) if prec + rec else 0.0

    best = dict(u_def)
    cur = f1(best)
    for t in types:
        for cand in grid:
            trial = dict(best)
            trial[t] = float(cand)
            score = f1(trial)
            if score > cur + 1e-6:
                cur, best = score, trial
    return {t: th for t, th in best.items() if th != u_def[t]}


def detect_triggers_tagged(
    corpus: Dict[str, DataFrame],
    model,
    type_table: DataFrame,
    rates: DataFrame,
    gazetteer: DataFrame,
    type_thresholds: Dict[str, float] | None = None,
    unseen_thresholds: Dict[str, float] | None = None,
) -> DataFrame:
    """Predict triggers with the trained tagger — corpus span shape,
    drop-in for detect_triggers. Scoring is the broadcast-join path
    (operators/tagger.py score_candidates): no collect, no UDF.
    ``type_thresholds`` (from calibrate_type_thresholds) adds per-type
    minimum viability scores on top of the model's global gates;
    ``unseen_thresholds`` (from calibrate_unseen_thresholds) REPLACES the
    global unseen gate per type — it may tighten or loosen, so when
    present the model's own viable flag is superseded by the per-type
    gate dimension. Both are broadcast-dimension joins, still zero UDF."""
    from dere_spark.operators.tagger import candidate_features, score_candidates

    toks = tagger_tokens(corpus)
    cands = candidate_features(toks, gazetteer, rates)
    scored = score_candidates(cands, model)
    if unseen_thresholds:
        # per-type seen/unseen gate table; defaults reproduce the plain
        # viable flag + type_thresholds path exactly for absent types
        floors = type_thresholds or {}
        types = sorted(set(floors) | set(unseen_thresholds))
        s_base = float(model.threshold_seen)
        u_base = float(model.threshold_unseen)
        gate_rows = [
            (
                t,
                max(s_base, floors.get(t, 0.0)),
                unseen_thresholds.get(t, max(u_base, floors.get(t, 0.0))),
            )
            for t in types
        ]
        spark = scored.sparkSession
        gates = spark.createDataFrame(
            gate_rows, "span_type string, s_thr double, u_thr double"
        )
        typed = scored.join(
            F.broadcast(type_table), scored["low"] == type_table["term"], "inner"
        ).join(F.broadcast(gates), "span_type", "left")
        gate = F.when(
            F.col("seen"), F.coalesce("s_thr", F.lit(s_base))
        ).otherwise(F.coalesce("u_thr", F.lit(u_base)))
        return _trigger_span_shape(
            _suppress_covered_subtokens(
                typed.where(F.col("viability") >= gate).drop("s_thr", "u_thr")
            )
        )
    viable = scored.where(F.col("viable"))
    typed = viable.join(
        F.broadcast(type_table), viable["low"] == type_table["term"], "inner"
    )
    if type_thresholds:
        spark = typed.sparkSession
        thr = spark.createDataFrame(
            sorted(type_thresholds.items()), "span_type string, min_score double"
        )
        typed = (
            typed.join(F.broadcast(thr), "span_type", "left")
            .where(
                F.col("min_score").isNull()
                | (F.col("viability") >= F.col("min_score"))
            )
            .drop("min_score")
        )
    return _trigger_span_shape(_suppress_covered_subtokens(typed))


def _suppress_covered_subtokens(typed: DataFrame) -> DataFrame:
    """Longest-match-wins over gated trigger candidates: a hyphen-subtoken
    prediction (synthetic negative token_idx, see candidate_features) is
    dropped when its HOST token also survived the gates — the reference
    CRF emits non-overlapping BIO spans, so two nested trigger spans can
    never coexist in its output. Measured r5 (BASELINE.md probe B): keeps
    the 3 embedded "induced" TPs (hosts like "gp41-induced" are not
    gazetteer terms) while killing the "regulation"-inside-"up-regulation"
    FPs whose hosts fire."""
    main = typed.where(F.col("token_idx") >= 0)
    sub = typed.where(F.col("token_idx") < 0)
    host_keys = main.select("doc_id", F.col("token_idx").alias("_h_idx")).distinct()
    sub_kept = (
        sub.withColumn("_h_idx", -F.col("token_idx") - F.lit(1))
        .join(host_keys, ["doc_id", "_h_idx"], "left_anti")
        .drop("_h_idx")
    )
    return main.unionByName(sub_kept)


def _trigger_span_shape(typed: DataFrame) -> DataFrame:
    """Gated typed candidates -> the corpus trigger-span shape."""
    return typed.select(
        F.split_part("doc_id", F.lit("#"), F.lit(1)).alias("doc_id"),
        F.split_part("doc_id", F.lit("#"), F.lit(2)).cast("int").alias("instance_idx"),
        "span_type",
        F.col("tleft").alias("left"),
        F.col("tright").alias("right"),
        F.col("core").alias("text"),
        F.lit("predicted").alias("source"),
        F.col("viability").alias("score"),
    )


def tagged_triggers(
    spark: SparkSession,
    train: Dict[str, DataFrame],
    corpus: Dict[str, DataFrame],
) -> DataFrame:
    """Tagger triggers on ``corpus``: fit the viability tagger on train
    (candidates from the reference's shipped gazetteer), calibrate
    per-type score floors and unseen gates on train only, then detect."""
    model, ttable, rates, gaz, toks, own = train_trigger_tagger(
        spark, train, return_intermediates=True
    )
    trig_train = detect_triggers_tagged(train, model, ttable, rates, gaz)
    thresholds = calibrate_type_thresholds(train, trig_train)
    unseen = calibrate_unseen_thresholds(
        train, model, ttable, rates, gaz,
        type_thresholds=thresholds, toks=toks, own=own,
    )
    # checkpointed: the arc rules and the output spans each read the
    # triggers, and inlining this plan at every read filled an 8 GB JVM
    # heap on the 4-document test corpus (nested arcs: 40 min, then a
    # failed job)
    return detect_triggers_tagged(
        corpus, model, ttable, rates, gaz,
        type_thresholds=thresholds, unseen_thresholds=unseen,
    ).localCheckpoint(eager=True)
