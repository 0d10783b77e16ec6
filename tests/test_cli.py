"""CLI entry points — the reference's build/train/predict/evaluate surface
(dere/__main__.py) driven through python -m dere_spark, on the in-repo
corpus tests/fixtures/bionlp_mini. Each corpus test has a ``*_tutorial``
twin that runs the same body on the reference's task spec and tutorial
corpus, wherever that checkout is present."""

from __future__ import annotations

import glob
import shutil
import subprocess
import sys

import pytest

from tests.conftest import (
    MINI_SPEC,
    MINI_TEST,
    MINI_TRAIN,
    REF_SPEC,
    REF_TEST,
    REF_TRAIN,
    ROOT,
    needs_reference,
)

#: (spec, train, test) of each corpus; both test splits hold 4 documents
MINI = (MINI_SPEC, MINI_TRAIN, MINI_TEST)
TUTORIAL = (REF_SPEC, REF_TRAIN, REF_TEST)
needs_tutorial = needs_reference(*TUTORIAL)


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "dere_spark", "--cpus", "4", *args],
        capture_output=True, text=True, timeout=540,
    )


@pytest.mark.slow
def test_predict_then_evaluate_workflow(tmp_path, corpus=MINI):
    spec, train, test = corpus
    out = tmp_path / "pred"
    r = _run(
        "predict", "--spec", spec, "--corpus", test,
        "--corpus-train", train, "--out", str(out),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    a2s = sorted(glob.glob(f"{out}/*.a2"))
    assert len(a2s) == 4
    # valid BRAT: every E references the frame's trigger + a filler
    content = open(a2s[0]).read()
    assert content.splitlines()[0].startswith("T")
    assert any(l.startswith("E") for l in content.splitlines())

    # assemble the hypo dir (txt + given a1 + predicted a2) and evaluate
    hypo = tmp_path / "hypo"
    hypo.mkdir()
    for f in glob.glob(f"{test}/*.txt") + glob.glob(f"{test}/*.a1"):
        shutil.copy(f, hypo)
    for f in a2s:
        shutil.copy(f, hypo)
    r2 = _run("evaluate", "--spec", spec, "--hypo", str(hypo), "--gold", test)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "=[FRAME TOTAL]=" in r2.stdout and "=[SPAN TOTAL]=" in r2.stdout


@pytest.mark.slow
@needs_tutorial
def test_predict_then_evaluate_workflow_tutorial(tmp_path):
    test_predict_then_evaluate_workflow(tmp_path, TUTORIAL)


@pytest.mark.slow
def test_extract_cli(tmp_path):
    out = tmp_path / "triples"
    r = _run("extract", "--input", "/root/testdata/sf0.001", "--out", str(out))
    assert r.returncode == 0, r.stderr[-2000:]
    assert "wrote 8113 triples" in r.stdout


@pytest.mark.slow
def test_train_cli(tmp_path, corpus=MINI):
    spec, train, _ = corpus
    model_dir = tmp_path / "model"
    r = _run("train", "--spec", spec, "--corpus", train, "--model-dir", str(model_dir))
    assert r.returncode == 0, r.stderr[-2000:]
    import json

    manifest = json.load(open(model_dir / "manifest.json"))
    assert "Gene_expression" in manifest["metadata"]["theme_model"]
    # the payload must be the class `predict --model-dir` hard-requires —
    # the old empty-LinearPairScorer shell made the train->predict
    # lifecycle always raise a class-mismatch error
    assert manifest["model_class"].endswith("GazetteerTagger")


@pytest.mark.slow
@needs_tutorial
def test_train_cli_tutorial(tmp_path):
    test_train_cli(tmp_path, TUTORIAL)


@pytest.mark.slow
def test_train_then_predict_lifecycle(tmp_path, corpus=MINI):
    """The advertised train -> predict cycle end-to-end: the artifact
    `train` saves must load and predict under `predict --model-dir`."""
    spec, train, test = corpus
    model_dir = tmp_path / "model"
    r = _run("train", "--spec", spec, "--corpus", train, "--model-dir", str(model_dir))
    assert r.returncode == 0, r.stderr[-2000:]
    out = tmp_path / "pred"
    r2 = _run(
        "predict", "--spec", spec, "--corpus", test,
        "--model-dir", str(model_dir), "--out", str(out),
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    a2s = sorted(glob.glob(f"{out}/*.a2"))
    assert len(a2s) == 4
    assert any(l.startswith("E") for l in open(a2s[0]).read().splitlines())


@pytest.mark.slow
@needs_tutorial
def test_train_then_predict_lifecycle_tutorial(tmp_path):
    test_train_then_predict_lifecycle(tmp_path, TUTORIAL)


def test_score_legacy_cli(train_dir=MINI_TRAIN):
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable, "-m", "dere_spark", "--cpus", "4", "score-legacy",
            "--hypo", train_dir,
            "--gold", train_dir,
        ],
        capture_output=True, text=True, timeout=400, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    assert "-------------- EVENT EVALUATION ------------------" in proc.stdout
    assert "=[ALL-TOTAL]" in proc.stdout


@needs_reference(REF_TRAIN)
def test_score_legacy_cli_tutorial():
    test_score_legacy_cli(REF_TRAIN)
