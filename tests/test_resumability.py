"""Checkpoint/lineage resumability of the webtext extraction chain, skew
helpers and splits.

The checkpointed run folds ``webtext.extraction_chain``, the chain
``extract_triples`` runs, so its triples must equal the direct ones row
for row, and each stage's fingerprint must cover the constants it reads."""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from dere_spark.operators.corpus_ops import deterministic_split
from dere_spark.operators.skew import salted_count, salted_dim_join
from dere_spark.plans.checkpoint import (
    CHECKPOINTED,
    CheckpointedPipeline,
    run_checkpointed_extraction,
)
from dere_spark.sources.documents import load_documents
from dere_spark.webtext import extract_triples


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_punctuated_corpus(spark, tmp_path) -> str:
    rows = [
        (f"u{i}", f"Spark join, table {i}. customer sort fast!", "en", "web")
        for i in range(20)
    ]
    out = str(tmp_path / "punct")
    spark.createDataFrame(
        rows, "doc_id string, text string, lang string, source string"
    ).write.parquet(f"{out}/documents.parquet")
    return out


def test_checkpointed_pipeline_matches_direct(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cp")
    out = run_checkpointed_extraction(spark, sf_dir, root)
    direct = _rows(extract_triples(spark, sf_dir))
    assert direct and _rows(out["triples"]) == direct
    # manifests carry lineage: per-partition row counts + chained fingerprints
    m = json.load(open(f"{root}/triples/manifest.json"))
    assert m["rows"] == len(direct)
    assert m["partitions"] and all("rows" in p for p in m["partitions"])
    assert m["upstream"]["frames"]


def test_checkpointed_pipeline_matches_direct_on_punctuated_text(spark, tmp_path):
    """The checkpointed run tokenizes like the flagship (Treebank), so
    comma- and period-glued terms still yield triples."""
    src = _write_punctuated_corpus(spark, tmp_path)
    out = run_checkpointed_extraction(spark, src, str(tmp_path / "cp"))
    direct = _rows(extract_triples(spark, src))
    assert direct and _rows(out["triples"]) == direct


def test_checkpoint_alias_edit_recomputes_only_triples(spark, sf_dir, tmp_path, monkeypatch):
    """An entity-alias edit changes only the triples stage's constants:
    spans and frames resume from checkpoint, triples recompute and carry
    the new canonical id."""
    from dere_spark import webtext

    root = str(tmp_path / "cp")
    run_checkpointed_extraction(spark, sf_dir, root)
    monkeypatch.setattr(
        webtext, "ENTITY_ALIASES", {**webtext.ENTITY_ALIASES, "table": "ent:db_table"}
    )
    out = run_checkpointed_extraction(spark, sf_dir, root)
    cp = out["_pipeline"]
    assert cp.reused("spans") and cp.reused("frames")
    assert not cp.reused("triples")
    linked = out["triples"].where("subj = 'ent:db_table' OR obj = 'ent:db_table'")
    assert linked.count() > 0
    assert _rows(out["triples"]) == _rows(extract_triples(spark, sf_dir))


def test_checkpoint_resume_skips_clean_stages(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cp")
    first = run_checkpointed_extraction(spark, sf_dir, root)
    first_count = first["triples"].count()
    assert not first["_pipeline"].reused("spans")
    # second run: every stage resumes from checkpoint
    second = run_checkpointed_extraction(spark, sf_dir, root)
    cp = second["_pipeline"]
    assert cp.reused("spans") and cp.reused("frames") and cp.reused("triples")
    # wipe one downstream stage -> only it recomputes, upstream still reused
    shutil.rmtree(f"{root}/triples")
    third = run_checkpointed_extraction(spark, sf_dir, root)
    cp3 = third["_pipeline"]
    assert cp3.reused("spans") and cp3.reused("frames")
    assert not cp3.reused("triples")
    assert third["triples"].count() == first_count


def test_checkpoint_invalidates_on_param_change(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cp")
    cp = CheckpointedPipeline(spark, root)
    df1 = cp.stage("s", lambda: spark.range(5).toDF("x"), params="v1")
    assert not cp.reused("s")
    cp2 = CheckpointedPipeline(spark, root)
    cp2.stage("s", lambda: spark.range(5).toDF("x"), params="v2")
    assert not cp2.reused("s")  # changed params -> fingerprint mismatch


def test_checkpoint_crash_mid_rebuild_never_resurrects_stale_manifest(
    spark, tmp_path
):
    """The stale manifest must be invalidated BEFORE the rebuild touches
    the data: a crash between the data overwrite and the new manifest's
    publish would otherwise leave the OLD manifest vouching for data it
    did not describe, and a later run with the old params would silently
    reuse wrong or half-written parquet."""
    root = str(tmp_path / "cp")
    cp = CheckpointedPipeline(spark, root)
    cp.stage("s", lambda: spark.range(5).toDF("x"), params="v1")

    def boom():
        raise RuntimeError("simulated crash during rebuild")

    cp2 = CheckpointedPipeline(spark, root)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cp2.stage("s", boom, params="v2")
    # back on v1: the old manifest is gone, so the stage must recompute
    cp3 = CheckpointedPipeline(spark, root)
    out = cp3.stage("s", lambda: spark.range(5).toDF("x"), params="v1")
    assert not cp3.reused("s")
    assert out.count() == 5


def test_checkpoint_invalidates_on_input_regeneration(spark, sf_dir, tmp_path):
    """Fingerprinting only the input PATH string would reuse a stale
    checkpoint after the corpus is regenerated in place under the same
    directory — input_signature folds the documents table's file listing
    (name, size, mtime) into the first stage's fingerprint. The chain
    reads no other table, so touching a sibling table reuses every
    stage."""
    src = str(tmp_path / "corpus")
    os.makedirs(src)
    doc_table, sibling = f"{src}/documents.parquet", f"{src}/region.parquet"
    shutil.copy(f"{sf_dir}/documents.parquet", doc_table)
    shutil.copy(f"{sf_dir}/region.parquet", sibling)
    root = str(tmp_path / "cp")
    first = run_checkpointed_extraction(spark, src, root)
    n = first["triples"].count()
    os.utime(sibling, ns=(1, 1))
    second = run_checkpointed_extraction(spark, src, root)
    assert all(second["_pipeline"].reused(name) for name in CHECKPOINTED)
    # "regenerate" the corpus in place: same path, new file mtime
    os.utime(doc_table, ns=(1, 1))
    third = run_checkpointed_extraction(spark, src, root)
    assert not any(third["_pipeline"].reused(name) for name in CHECKPOINTED)
    assert third["triples"].count() == n


def test_checkpoint_stage_files_are_aqe_sized(spark, sf_dir, tmp_path):
    """Stage checkpoints are rebalanced before the write, so AQE sizes
    the files instead of writing one per shuffle partition; the
    manifest's row count still matches what reads back."""
    root = str(tmp_path / "cp")
    run_checkpointed_extraction(spark, sf_dir, root)
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for name in CHECKPOINTED:
        data = f"{root}/{name}/data"
        parts = [f for f in os.listdir(data) if f.startswith("part-")]
        assert 0 < len(parts) < shuffle_partitions, (name, parts)
        manifest = json.load(open(f"{root}/{name}/manifest.json"))
        assert manifest["rows"] == spark.read.parquet(data).count()


def test_salted_join_equals_plain_join(spark, sf_dir):
    docs = load_documents(spark, sf_dir).limit(200)
    dim = spark.createDataFrame(
        [("en", "english"), ("de", "german")], "lang string, lang_name string"
    )
    plain = docs.join(dim, "lang", "left").groupBy("lang_name").count()
    salted = (
        salted_dim_join(docs, dim, "lang", salt_from=["doc_id"], buckets=8)
        .groupBy("lang_name")
        .count()
    )
    key = lambda t: (t[0] is None, t)  # noqa: E731 — None-safe sort
    assert sorted(map(tuple, plain.collect()), key=key) == sorted(
        map(tuple, salted.collect()), key=key
    )


def test_salted_count_equals_plain_count(spark, sf_dir):
    docs = load_documents(spark, sf_dir)
    plain = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["lang"]: r["n"] for r in salted_count(docs, "lang", ["doc_id"], 8).collect()}
    assert plain == salted


def test_deterministic_split(spark, sf_dir):
    docs = load_documents(spark, sf_dir)
    train, dev = deterministic_split(docs, 0.8)
    n, tn, dn = docs.count(), train.count(), dev.count()
    assert tn + dn == n
    assert 0.7 < tn / n < 0.9  # ~uniform
    # reproducible and disjoint
    train2, _ = deterministic_split(docs, 0.8)
    assert train2.count() == tn
    assert train.join(dev, "doc_id", "inner").count() == 0

