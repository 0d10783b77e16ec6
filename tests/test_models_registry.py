"""S10/S11 model registry + O2 seeded shuffle."""

from __future__ import annotations

import pytest

from dere_spark.operators.corpus_ops import seeded_shuffle
from dere_spark.operators.kernels import LinearPairScorer, score_pairs_batched
from dere_spark.plans.models import load_model, save_model
from dere_spark.sources.documents import load_documents
from tests.conftest import (
    MINI_SPEC,
    MINI_TEST,
    MINI_TRAIN,
    REF_GAZETTEER,
    REF_MODEL_SPEC,
    REF_SPEC,
    REF_TEST,
    REF_TRAIN,
    needs_reference,
)


def test_save_load_round_trip(tmp_path):
    model = LinearPairScorer(feature_cols=("f1",), weights=(2.0,), bias=0.5)
    manifest = save_model(model, str(tmp_path / "m"), metadata={"task": "webtext"})
    assert manifest["model_class"].endswith("LinearPairScorer")
    loaded, m2 = load_model(str(tmp_path / "m"))
    assert loaded == model and m2["metadata"]["task"] == "webtext"


def test_load_detects_corruption(tmp_path):
    model = LinearPairScorer(feature_cols=("f1",), weights=(2.0,), bias=0.5)
    save_model(model, str(tmp_path / "m"))
    with open(tmp_path / "m" / "model.pkl", "ab") as f:
        f.write(b"garbage")
    with pytest.raises(ValueError, match="corrupt"):
        load_model(str(tmp_path / "m"))


def test_load_checks_class(tmp_path):
    save_model(LinearPairScorer(("f1",), (1.0,)), str(tmp_path / "m"))
    with pytest.raises(ValueError, match="mismatch"):
        load_model(str(tmp_path / "m"), expected_class="foo.Bar")


def test_loaded_model_scores_in_plan(spark, tmp_path):
    model = LinearPairScorer(feature_cols=("f1",), weights=(3.0,), bias=1.0)
    save_model(model, str(tmp_path / "m"))
    loaded, _ = load_model(str(tmp_path / "m"))
    df = spark.createDataFrame([(1, 2.0)], "id int, f1 double")
    out = score_pairs_batched(df, loaded).collect()
    assert out[0]["model_score"] == 7.0


def test_seeded_shuffle_deterministic(spark, sf_dir):
    docs = load_documents(spark, sf_dir).limit(50)
    o1 = [r["doc_id"] for r in seeded_shuffle(docs, 1111).collect()]
    o2 = [r["doc_id"] for r in seeded_shuffle(docs, 1111).collect()]
    o3 = [r["doc_id"] for r in seeded_shuffle(docs, 98765).collect()]
    assert o1 == o2
    assert o1 != o3  # different seed -> different order
    assert sorted(o1) == sorted(o3)


def test_learned_nested_save_load_predict(
    spark, tmp_path, corpus=(MINI_SPEC, MINI_TRAIN, MINI_TEST)
):
    """Full model lifecycle for the r2 extractor: train -> save_model ->
    load_model -> predict, with identical evaluation to the direct path.
    ``corpus``: (task spec, train dir, held-out dir)."""
    from dere_spark.bionlp import predict_learned_nested, train_learned_nested
    from dere_spark.plans.models import load_model, save_model
    from dere_spark.sources.brat import load_brat
    from dere_spark.taskspec import load_task_spec

    spec_path, train_dir, test_dir = corpus
    spec = load_task_spec(spec_path)
    train = load_brat(spark, train_dir, spec)
    lm = train_learned_nested(spark, train, iterations=120)
    save_model(lm, str(tmp_path / "lnm"))
    loaded, manifest = load_model(
        str(tmp_path / "lnm"),
        expected_class="dere_spark.bionlp.LearnedNestedModel",
    )
    # frozen dataclass: bit-identical round trip — weights, gazetteer and
    # stats rows all equal, so predictions are identical by construction
    assert loaded == lm
    assert manifest["model_class"] == "dere_spark.bionlp.LearnedNestedModel"

    # apply the LOADED artifact to the (smaller) held-out split: the
    # full predict plan runs from the deserialized weights/dictionaries
    test = load_brat(spark, test_dir, spec)
    hypo = predict_learned_nested(spark, loaded, test)
    assert hypo["frames"].count() > 0
    assert hypo["spans"].where("source = 'predicted'").count() > 0


@needs_reference(REF_SPEC, REF_TRAIN, REF_TEST)
def test_learned_nested_save_load_predict_tutorial(spark, tmp_path):
    test_learned_nested_save_load_predict(
        spark, tmp_path, (REF_SPEC, REF_TRAIN, REF_TEST)
    )


@needs_reference(REF_SPEC, REF_MODEL_SPEC, REF_GAZETTEER)
def test_build_bare_model_from_reference_specs(tmp_path):
    """The reference's `build` lifecycle step (dere/__main__.py:105-129):
    task spec + model spec -> initialized-but-untrained artifact. The
    baseline model spec's gazetteer resolves relative to the spec file
    and the artifact tags gazetteer surfaces immediately."""
    import pandas as pd

    from dere_spark.plans.models import build_bare_model, load_model

    out = str(tmp_path / "bare")
    manifest = build_bare_model(
        REF_SPEC,
        REF_MODEL_SPEC,
        out,
    )
    assert manifest["metadata"]["lifecycle"] == "bare"
    assert manifest["metadata"]["model_type"] == "BaselineModel"
    model, mf = load_model(out)
    assert mf["payload_md5"] == manifest["payload_md5"]
    gaz = dict(model.gazetteers)
    assert "bound" in gaz["Binding"]
    tags = list(model.tag(pd.Series(["bound", "xyzzy"])))
    assert tags == ["B-Binding", "O"]


def test_gazetteer_from_model_matches_tag_rule(spark, tmp_path):
    """The relational gazetteer derived from a built artifact must agree
    with the artifact's own tag() rule on multi-type surfaces (later
    gazetteers overwrite earlier ones -> alphabetically last type)."""
    import pandas as pd

    from dere_spark.bionlp import gazetteer_from_model
    from dere_spark.operators.kernels import GazetteerTagger

    model = GazetteerTagger((
        ("Binding", ("bound", "shared")),
        ("Transcription", ("shared", "levels")),
    ))
    gaz = {r["term"]: r["span_type"] for r in gazetteer_from_model(spark, model).collect()}
    assert gaz == {"bound": "Binding", "shared": "Transcription", "levels": "Transcription"}
    tags = list(model.tag(pd.Series(["shared", "bound", "nope"])))
    assert tags == ["B-Transcription", "B-Binding", "O"]
