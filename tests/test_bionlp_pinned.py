"""Pinned outputs of every shipped BioNLP predict path on an in-repo corpus.

`scripts/make_bionlp_fixture.py` writes a seeded mini corpus in the
shared task's shape (tests/fixtures/bionlp_mini). Each entry point below
runs on it and is fingerprinted: sorted-row hashes of the hypothesis
`spans`, `frames` and `slot_fills`, the `EvalResult.counts` against gold
and, for the CLI paths, the dumped .a2 files. The values were recorded
on the code as it stood before its six hand-wired evaluation pipelines
were folded into one predict path; they are never regenerated, so a
refactor that changes any emitted row fails here.

The fixture must keep reaching the branches a refactor could break: a
frame-kind Theme, a prune round that drops a frame, a two-Theme Binding
in gold and a predicted trigger that abuts punctuation.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

import dere_spark.bionlp as B
import dere_spark.operators.tagger as tagger
from dere_spark.sources.brat import dump_brat, load_brat
from dere_spark.taskspec import load_task_spec
from tests.conftest import MINI as FIXTURE
from tests.conftest import MINI_SPEC as SPEC
from tests.conftest import MINI_TEST as TEST
from tests.conftest import MINI_TRAIN as TRAIN
from tests.conftest import ROOT

TABLES = ("spans", "frames", "slot_fills")

PINNED = {
    "cli_gazetteer": {
        "spans": "c3f78031a0fe884d5cddf690fc6b4319",
        "frames": "e47615325fade7bad6943037d8eed611",
        "slot_fills": "8289085154aa073ba014c971e62a8746",
        "counts": "3833a736742c26c070b256c71e230456",
        "a2": "899741898b19d71031babb1f5121b54f",
    },
    "cli_tagger": {
        "spans": "bb92bbdd0272d66e7d8e6be282da50d4",
        "frames": "e47615325fade7bad6943037d8eed611",
        "slot_fills": "8289085154aa073ba014c971e62a8746",
        "counts": "22be4be5683953f2c8345963e4a7c2b8",
        "a2": "533a7e0b619d85bdf328abdad61a1cbd",
    },
    "nested": {
        "spans": "c3f78031a0fe884d5cddf690fc6b4319",
        "frames": "e47615325fade7bad6943037d8eed611",
        "slot_fills": "dc83a6afbf6e79745498afa115c67af9",
        "counts": "46910184ef5c07950b9d7e49dd3576dd",
    },
    "tagged_nested": {
        "spans": "bb92bbdd0272d66e7d8e6be282da50d4",
        "frames": "e47615325fade7bad6943037d8eed611",
        "slot_fills": "dc83a6afbf6e79745498afa115c67af9",
        "counts": "7f087f10d30d87ecab6061c39d22a642",
    },
    "learned_nested": {
        "spans": "bb92bbdd0272d66e7d8e6be282da50d4",
        "frames": "f65734c844e1689f8db20106d193f083",
        "slot_fills": "0e5b0eeb478edc977c9ec9c4e4db4493",
        "counts": "be0e42fd662957c1e8d91aa5ea1e374b",
    },
}


def _md5(lines) -> str:
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _table_hash(df) -> str:
    cols = sorted(df.columns)
    return _md5(sorted(repr(tuple(r)) for r in df.select(*cols).collect()))


def _a2_hash(hypo) -> str:
    """The dumped .a2 files with run-dependent numbering resolved: a
    predicted T-line is its content, an event names its trigger and
    arguments by content (a nested event as 'E')."""
    lines = []
    for row in dump_brat(hypo, just_predictions=True).collect():
        body = [l.split("\t") for l in row["a2"].splitlines()]
        t_of = {b[0]: b[1] + "|" + b[2] for b in body if b[0].startswith("T")}
        for b in body:
            if b[0].startswith("T"):
                lines.append(f"{row['doc_id']} T {t_of[b[0]]}")
            else:
                args = []
                for kv in b[1].split(" "):
                    slot, ref = kv.rsplit(":", 1)
                    args.append(f"{slot}={t_of.get(ref, 'E' if ref.startswith('E') else ref)}")
                lines.append(f"{row['doc_id']} E " + " ".join(args))
    return _md5(sorted(lines))


def _cached(corpus):
    return {k: v.cache() for k, v in corpus.items()}


def _fingerprint(hypo, result, with_dump: bool = False) -> dict:
    fp = {t: _table_hash(hypo[t]) for t in TABLES}
    fp["counts"] = _md5(sorted(repr(kv) for kv in result.counts.items()))
    if with_dump:
        fp["a2"] = _a2_hash(hypo)
    return fp


@pytest.fixture(scope="module")
def env(spark):
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(B, "BIONLP_SPEC", SPEC)
        spec = load_task_spec(SPEC)
        train = _cached(load_brat(spark, TRAIN, spec))
        gold = _cached(load_brat(spark, TEST, spec))
        # what CLI predict loads (load_gold=False): gold with its gold stripped
        corpus = {"instances": gold["instances"], "spans": gold["spans"].where("source = 'given'")}
        gaz = B.induce_trigger_gazetteer_filtered(train, 0.2).cache()
        # the tagger's candidate dictionary: the induced gazetteer stands
        # in for the reference's shipped one
        mp.setattr(tagger, "load_reference_gazetteer", lambda spark, *a, **k: gaz)
        yield {"spec": spec, "train": train, "gold": gold, "corpus": corpus, "gaz": gaz, "mp": mp}
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)


def _captured_eval(env, fn):
    """Run an entry point that returns an EvalResult; also return the
    hypothesis corpus it evaluated."""
    seen = {}
    real = B.evaluate

    def spy(hypo, gold):
        seen["hypo"] = _cached(hypo)
        return real(seen["hypo"], gold)

    env["mp"].setattr(B, "evaluate", spy)
    try:
        result = fn()
    finally:
        env["mp"].setattr(B, "evaluate", real)
    return seen["hypo"], result


def _evaluated(env, hypo):
    hypo = _cached(hypo)
    return hypo, B.evaluate(hypo, env["gold"])


def _cli_gazetteer(spark, env):
    return _evaluated(env, B.predicted_corpus(spark, env["corpus"], env["spec"], env["gaz"]))


def _cli_tagger(spark, env):
    triggers = B.tagged_triggers(spark, env["train"], env["corpus"])
    return _evaluated(
        env, B.predicted_corpus(spark, env["corpus"], env["spec"], env["gaz"], triggers=triggers)
    )


def _run_eval(spark, env, predict):
    # run_bionlp_eval reads the corpora already loaded (and cached) above
    loaded = {TRAIN: env["train"], TEST: env["gold"]}
    env["mp"].setattr(B, "load_brat", lambda spark, path, spec: loaded[path])
    try:
        return _captured_eval(env, lambda: B.run_bionlp_eval(spark, TRAIN, TEST, predict))
    finally:
        env["mp"].setattr(B, "load_brat", load_brat)


def _nested(spark, env):
    return _run_eval(spark, env, B.gazetteer_nested)


def _tagged_nested(spark, env):
    return _run_eval(spark, env, B.tagged_nested)


def _unpruned_nested_frames(spark, env):
    """Frames the nested rule emits before the cascade prune."""
    gaz = B.induce_trigger_gazetteer_filtered(env["train"], B._MIN_TRIGGER_PRECISION)
    triggers = B.detect_triggers(env["gold"], gaz)
    return B._nested_arcs(spark, env["spec"], env["train"], env["gold"], triggers).count()


def _train_learned(spark, env):
    return B.train_learned_nested(spark, env["train"])


def _learned_predict(spark, env, lm):
    return _evaluated(env, B.predict_learned_nested(spark, lm, env["corpus"]))


def test_fixture_regenerates_byte_identical(tmp_path):
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_bionlp_fixture.py"),
         "--out", str(tmp_path)],
        check=True,
    )

    def files(root):
        return sorted(
            os.path.relpath(os.path.join(d, f), root)
            for d, _, fs in os.walk(root) for f in fs
        )

    assert files(tmp_path) == files(FIXTURE)
    for rel in files(FIXTURE):
        with open(os.path.join(FIXTURE, rel), "rb") as a, open(tmp_path / rel, "rb") as b:
            assert a.read() == b.read(), rel


def test_gold_has_a_two_theme_binding(env):
    two = (
        env["gold"]["slot_fills"]
        .where("frame_type = 'Binding' AND slot_name = 'Theme'")
        .groupBy("doc_id", "frame_tag").count()
        .where("count = 2")
    )
    assert two.count() > 0


def test_cli_gazetteer_predict_is_pinned(spark, env):
    hypo, result = _cli_gazetteer(spark, env)
    assert _fingerprint(hypo, result, with_dump=True) == PINNED["cli_gazetteer"]
    # a predicted trigger abutting punctuation, matched on its trimmed core
    inst = env["corpus"]["instances"].select(
        "doc_id", "instance_idx", F.col("text").alias("i_text")
    )
    abutting = (
        hypo["spans"].where("source = 'predicted'")
        .join(inst, ["doc_id", "instance_idx"])
        .where(F.expr("substring(i_text, `right` + 1, 1) rlike '[^A-Za-z0-9 ]'"))
    )
    assert abutting.count() > 0


def test_cli_tagger_predict_is_pinned(spark, env):
    hypo, result = _cli_tagger(spark, env)
    assert _fingerprint(hypo, result, with_dump=True) == PINNED["cli_tagger"]


def test_nested_arcs_are_pinned(spark, env):
    hypo, result = _nested(spark, env)
    assert _fingerprint(hypo, result) == PINNED["nested"]
    frame_themes = hypo["slot_fills"].where("slot_name = 'Theme' AND filler_kind = 'frame'")
    assert frame_themes.count() > 0
    # the cascade prune dropped at least one frame
    assert _unpruned_nested_frames(spark, env) > hypo["frames"].count()


def test_tagged_nested_arcs_are_pinned(spark, env):
    hypo, result = _tagged_nested(spark, env)
    assert _fingerprint(hypo, result) == PINNED["tagged_nested"]


def test_nested_contention_prefers_the_higher_tagger_score(spark, env):
    """Regulations R1 and R2 both cover event C (C's nearest protein is
    theirs). R1 is nearer to C but less confident, so C goes to R2 and R1
    falls back to its nearest frame F. No fixture document stages this
    contest, so it is built here."""
    # Q F R1 C P R2, by character offset
    proteins = spark.createDataFrame(
        [("d", 0, "T1", "Protein", 0, 2, "given"), ("d", 0, "T2", "Protein", 27, 30, "given")],
        "doc_id string, instance_idx int, tag string, span_type string,"
        " left int, right int, source string",
    )
    triggers = spark.createDataFrame(
        [
            ("d", 0, "Gene_expression", 3, 10, 0.9),
            ("d", 0, "Positive_regulation", 11, 19, 0.2),
            ("d", 0, "Gene_expression", 21, 26, 0.9),
            ("d", 0, "Positive_regulation", 31, 40, 0.9),
        ],
        "doc_id string, instance_idx int, span_type string, left int, right int, score double",
    )
    best = B._nested_arcs(spark, env["spec"], env["train"], {"spans": proteins}, triggers)
    theme = {
        r["a_left"]: r["filler_tag"]
        for r in best.where("anchor_type = 'Positive_regulation'").collect()
    }
    assert theme == {11: "P:0:3:10:Gene_expression", 31: "P:0:21:26:Gene_expression"}


def test_learned_nested_round_trip_is_pinned(spark, env, tmp_path):
    from dere_spark.plans.models import load_model, save_model

    lm = _train_learned(spark, env)
    save_model(lm, str(tmp_path / "lnm"))
    loaded, _ = load_model(
        str(tmp_path / "lnm"), expected_class="dere_spark.bionlp.LearnedNestedModel"
    )
    assert loaded == lm
    hypo, result = _learned_predict(spark, env, loaded)
    assert _fingerprint(hypo, result) == PINNED["learned_nested"]
