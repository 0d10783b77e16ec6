"""Scale-guard regression tests: the PLAN is an artifact. These fail if a
future change sneaks an extra shuffle, breaks scan pruning, or loses
partition pruning at the graph sink."""

from __future__ import annotations

import os
import re
from collections import Counter

import pyspark.sql.functions as F
import pytest

from dere_spark.operators.triples import write_triples
from dere_spark.webtext import build_stages
from tests.conftest import py4j_round_trips


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_shuffle_budget(spark, sf_dir):
    """The corpus is shuffled EXACTLY ONCE: the plan's only data-exchange
    key is hashpartitioning(doc_id), paid by ``load_documents``. The
    tokenizer windows and the ±k neighbourhood window require a
    distribution that doc_id hash partitioning already satisfies, so
    neither adds an exchange. The gazetteer, the whitelist and the entity
    dictionary are inline map lookups and per-slot filters, so the
    triples plan has no join and no broadcast at all (it had 4 broadcast
    joins). (A 2-exchange Arrow-tokenizer variant was measured and
    rejected: see operators/tokenize.py's note.)"""
    plan = _executed_plan(build_stages(spark, sf_dir)["triples"])
    counts = Counter(re.findall(r"(\w*Exchange\w*)", plan))
    data_exchanges = counts.get("Exchange", 0)
    assert data_exchanges <= 2, f"shuffle crept in: {counts}\n{plan[:2000]}"
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for k in keys:
        cols = [c.split("#")[0].strip() for c in k.split(",")[:-1]]
        assert cols == ["doc_id"], f"unexpected exchange key: {k}"
    assert counts.get("BroadcastExchange", 0) == 0, f"{counts}\n{plan[:2000]}"
    assert not re.search(r"\w*Join\b", plan), plan[:3000]


def test_triples_plan_window_budget(spark, sf_dir):
    """Frames are chosen inside the ±k neighbourhood window, so the
    triples plan holds 4 Window operators: 3 in the Treebank tokenizer and
    the ±k window. The pair ranking (``row_number``) and the
    min-cardinality count windows it replaced made 6."""
    plan = _executed_plan(build_stages(spark, sf_dir)["triples"])
    windows = re.findall(r"\bWindow \[", plan)
    assert len(windows) <= 4, f"{len(windows)} windows:\n{plan[:3000]}"


def test_triples_plan_reads_spans_once(spark, sf_dir):
    """Candidate pairs expand each span's ±k neighbourhood inside one
    doc_id partition instead of joining two copies of the spans, so the
    triples plan scans the documents once, shuffles them once and has no
    shuffled join (the banded self-join it replaced had 2 scans, 2 hash
    exchanges and a SortMergeJoin)."""
    plan = _executed_plan(build_stages(spark, sf_dir)["triples"])
    scans = re.findall(r"FileScan parquet [^\n]*documents\.parquet", plan)
    assert len(scans) == 1, f"documents scanned {len(scans)} times:\n{plan[:3000]}"
    exchanges = re.findall(r"Exchange hashpartitioning\(doc_id#", plan)
    assert len(exchanges) == 1, f"{len(exchanges)} doc_id exchanges:\n{plan[:3000]}"
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan), plan[:3000]


def test_uncached_build_never_reads_cached_stages(spark, sf_dir):
    """``cached_stages`` persists the spans and triples of one build;
    ``build_stages`` must still return the uncached pipeline. Spark's cache
    manager substitutes any persisted plan that is semantically equal, so
    each build's plan must stay distinct from the persisted one."""
    from dere_spark.webtext import cached_stages

    cached_stages(spark, sf_dir)
    stages = build_stages(spark, sf_dir)
    for name in ("spans", "pairs", "triples"):
        plan = _executed_plan(stages[name])
        assert "InMemoryTableScan" not in plan, (
            f"{name} read a persisted stage:\n{plan[:1500]}"
        )


#: py4j round trips of one warm ``build_stages`` call: measured 194 (every
#: call, sf0.001, pyspark 4.1.2) + 25%. The broadcast-join build made 278,
#: the Column API build ~4,100.
BUILD_ROUND_TRIP_BUDGET = 243


def test_build_stages_round_trip_budget(spark, sf_dir):
    """Plan construction is Python-side work paid on every flagship call, one
    py4j round trip per Column API call. The operators build their
    constant expressions as SQL text, so a warm ``build_stages`` stays
    within a pinned budget; an expression rebuilt through nested Column
    calls (a 30-deep regexp_replace chain alone costs ~300) fails here."""
    build_stages(spark, sf_dir)  # warm: imports, class loading, parser
    sent = py4j_round_trips(lambda: build_stages(spark, sf_dir))
    assert sent <= BUILD_ROUND_TRIP_BUDGET, (
        f"build_stages made {sent} py4j round trips "
        f"(budget {BUILD_ROUND_TRIP_BUDGET})"
    )


def test_scan_column_pruning(spark, sf_dir):
    """The documents scan must read ONLY (doc_id, text) for the triples
    plan — lang/source (and a production html:binary) must be pruned."""
    plan = _executed_plan(build_stages(spark, sf_dir)["triples"])
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no FileScan found"
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"doc_id", "text"}, f"scan reads too much: {cols}"


def test_triples_sink_partition_pruning(spark, sf_dir, tmp_path):
    """write_triples partitions by pred; a pred-filtered readback must
    prune partitions at the scan (PartitionFilters non-empty)."""
    out = str(tmp_path / "triples")
    write_triples(build_stages(spark, sf_dir)["triples"], out)
    back = spark.read.parquet(out).where(F.col("pred") == "Operation.Manner")
    plan = _executed_plan(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pred" in m.group(1), f"partition pruning lost:\n{plan[:1500]}"
    # and the data is really there, split by predicate
    assert back.count() > 0
    preds = {r["pred"] for r in spark.read.parquet(out).select("pred").distinct().collect()}
    assert preds == {"Operation.Theme", "Operation.Manner"}


def test_spans_plan_has_no_join(spark, sf_dir):
    """The gazetteer is a map lookup in the tokens projection: the spans
    plan joins nothing and exchanges nothing but the corpus's doc_id
    hash partitioning."""
    plan = _executed_plan(build_stages(spark, sf_dir)["spans"])
    assert not re.search(r"\w*Join\b", plan), plan[:3000]
    exchanges = re.findall(r"\w*Exchange\b[^\n]*", plan)
    assert exchanges and all(
        re.match(r"Exchange hashpartitioning\(doc_id#\d+, \d+\)", e) for e in exchanges
    ), exchanges


def test_warm_flagship_batch_runs_three_jobs(spark, sf_dir, tmp_path):
    """A warm flagship batch (``extract_triples`` then ``write_triples``)
    runs 3 Spark jobs: the scan up to the doc_id shuffle, the extraction
    up to the sink's rebalance on pred (its shuffle-map stage), and the
    write. ``load_documents`` reads the parquet footer on the driver, so
    no job infers the schema; each broadcast dimension the extraction
    used to join was a job of its own (6 in all)."""
    from dere_spark.webtext import extract_triples

    sc = spark.sparkContext
    out = str(tmp_path / "triples")
    write_triples(extract_triples(spark, sf_dir), out)  # warm
    sc.setJobGroup("flagship_batch", "flagship job count")
    try:
        write_triples(extract_triples(spark, sf_dir), out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("flagship_batch")) <= 3


def _part_files(path: str) -> Counter:
    """part files per ``pred=`` directory of a written triples table"""
    return Counter(
        os.path.basename(root)
        for root, _dirs, names in os.walk(path)
        for name in names
        if name.startswith("part-")
    )


def test_triples_sink_sizes_files_by_predicate(spark, tmp_path):
    """``write_triples`` rebalances on pred, so AQE sizes the files: on a
    small input every predicate is one file (each task used to open one
    file per predicate it held); with the advisory partition size lowered
    below a skewed predicate's bytes, that predicate is split over several
    files. The rows read back unchanged either way."""
    cols = ["subj", "pred", "obj", "doc_id", "frame_id", "confidence"]
    triples = spark.range(4000).selectExpr(
        "concat('ent:s', id) AS subj",
        "CASE WHEN id < 3800 THEN 'Op.Big' WHEN id % 2 = 0 THEN 'Op.A' ELSE 'Op.B' END AS pred",
        "concat('ent:o', id) AS obj",
        "CAST(id % 97 AS STRING) AS doc_id",
        "concat('f', id) AS frame_id",
        "0.5D AS confidence",
    ).repartition(8, "doc_id")
    expected = sorted(tuple(r) for r in triples.collect())

    small = str(tmp_path / "small")
    write_triples(triples, small)
    assert _part_files(small) == {"pred=Op.Big": 1, "pred=Op.A": 1, "pred=Op.B": 1}
    assert sorted(tuple(r) for r in spark.read.parquet(small).select(*cols).collect()) == expected

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    skewed = str(tmp_path / "skewed")
    try:
        spark.conf.set(key, "16k")
        write_triples(triples, skewed)
    finally:
        spark.conf.set(key, prev)
    files = _part_files(skewed)
    assert files["pred=Op.Big"] >= 2, files
    assert sorted(tuple(r) for r in spark.read.parquet(skewed).select(*cols).collect()) == expected


def test_filter_near_dups_no_forced_broadcast(spark, sf_dir):
    """filter_near_dups must NOT force-broadcast the loser list: on the
    dup-heavy corpora this operator targets, the non-representative side is
    unbounded (billions of ids at 100 TB with a 30-50% dup rate), and a
    hard F.broadcast hint bypasses autoBroadcastJoinThreshold. Strategy is
    left to the optimizer/AQE: with the threshold disabled, the plan must
    fall back to a shuffled LeftAnti join (proving no ResolvedHint pins
    broadcast); with defaults, a genuinely-small loser list may still
    broadcast — both shapes keep the LeftAnti semantics."""
    from dere_spark.operators.dedup import filter_near_dups

    docs = spark.range(0, 1000).select(F.col("id").alias("doc_id"), F.lit("t").alias("text"))
    clusters = spark.range(0, 200).select(
        F.col("id").alias("node"), (F.col("id") - F.col("id") % 2).alias("component")
    )
    out = filter_near_dups(docs, clusters)
    assert "ResolvedHint" not in out._jdf.queryExecution().analyzed().toString()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _executed_plan(filter_near_dups(docs, clusters))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "LeftAnti" in plan, plan[:1500]
    assert "BroadcastHashJoin" not in plan, (
        "loser-list broadcast is pinned by a hint; it must be optimizer-chosen:\n"
        + plan[:1500]
    )
    # semantics: odd ids 1..199 are non-representatives -> 100 losers dropped
    assert out.count() == 900


def test_jaccard_verify_plans_candidates_once(spark, sf_dir):
    """Jaccard verification joins each candidate pair to its two
    per-document shingle sets, so the plan holds the candidate-pair
    generator once and 7 exchanges: 3 for the LSH candidates (the doc_id
    repartition, the bucket and the pair distinct) and, for each of the
    two set sides, a doc_id repartition (AQE reuses one at run time) and
    a broadcast; the sets' aggregation itself adds none. The
    shingle-level join it replaced planned the generator twice and had 14
    (10 shuffles, 4 broadcasts), on this corpus and at sf0.01 and sf0.1
    alike. Pinned on the shipped wiring, ``near_dup_stages``."""
    from dere_spark.operators.dedup import near_dup_stages, shingle_arrays
    from dere_spark.sources.documents import load_documents

    docs = load_documents(spark, sf_dir, columns=["text"])
    plan = _executed_plan(near_dup_stages(shingle_arrays(docs, n=3))["verified"])
    generators = re.findall(r"Generate explode\(flatten", plan)
    assert len(generators) == 1, plan[:3000]
    exchanges = re.findall(r"\w*Exchange\b", plan)
    assert len(exchanges) <= 7, f"{Counter(exchanges)}\n{plan[:3000]}"
