"""r7 optimization round: the per-row (array-typed) dedup kernels must be
value-identical to the row-level formulations they replaced, and their
plans must keep the shapes the rewrite bought (zero shuffles before the
bucket aggregation; no expensive expression pushed into the scan filter).
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import pytest

from dere_spark.operators.dedup import (
    candidate_pairs_lsh,
    explode_shingles,
    lsh_bands_minagg,
    shingle_arrays,
    shingles,
    simhash,
)
from dere_spark.operators.tokenize import tokenize


DOCS = [
    ("d1", "a b c d e"),
    ("d2", "a b c"),              # exactly n tokens -> one shingle
    ("d3", "a b"),                # < n tokens -> no shingles, dropped
    ("d4", ""),                   # single empty token
    ("d5", None),                 # NULL text
    ("d6", "x  y  z  w"),         # double spaces -> empty tokens kept
    ("d7", "r r r r r r"),        # repeated shingles -> distinct
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_shingle_arrays_match_row_formulation(spark, docs):
    row_form = _rows(shingles(tokenize(docs), n=3))
    arr_form = _rows(explode_shingles(shingle_arrays(docs, n=3)))
    assert arr_form == row_form
    assert row_form  # non-vacuous


def _md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def bands_reference(rows, num_hashes, bands):
    """Brute-force LSH banding over (doc_id, shingle) rows: minhash of seed
    s = min md5('s|shingle') over the document's shingles; band b =
    md5 of the minhashes of seeds b, b+bands, ... joined by ','. Bands
    that own no seed emit nothing."""
    by_doc = defaultdict(set)
    for doc_id, shingle in rows:
        by_doc[doc_id].add(shingle)
    out = []
    for doc_id, shs in by_doc.items():
        mins = [min(_md5(f"{seed}|{s}") for s in shs) for seed in range(num_hashes)]
        for b in range(min(bands, num_hashes)):
            out.append((doc_id, b, _md5(",".join(mins[b::bands]))))
    return sorted(out)


def test_lsh_bands_minagg_matches_fused(spark, docs):
    """The codegen min-agg band path must equal a brute-force md5 MinHash
    banding bit-for-bit (same md5 family, seed-order band signature)."""
    rows = explode_shingles(shingle_arrays(docs, n=3))
    want = bands_reference(_rows(rows), 16, 4)
    assert _rows(lsh_bands_minagg(rows, 16, 4)) == want
    assert want


def test_lsh_bands_minagg_no_exchange_on_partitioned_input(spark, docs):
    """On doc_id-partitioned input (the pipeline norm), the min
    aggregation must reuse the partitioning — zero data exchanges on
    top of the input's own."""
    part = docs.repartition(4, "doc_id")
    plan = (
        lsh_bands_minagg(explode_shingles(shingle_arrays(part, n=3)), 16, 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) == 1 and ex[0].split("#")[0].strip() == "doc_id", plan[:1200]


def test_candidate_pairs_match_bruteforce(spark):
    """The in-bucket pair expansion must equal the old self-join: all
    i<j doc pairs sharing a (band, band_sig) bucket, over-cap buckets
    dropped, distinct across bands."""
    rows = [
        # bucket (0, 'x'): 3 docs -> 3 pairs
        ("a", 0, "x"), ("b", 0, "x"), ("c", 0, "x"),
        # bucket (1, 'y'): same pair again (distinct must collapse)
        ("a", 1, "y"), ("b", 1, "y"),
        # bucket (2, 'z'): over cap (4 > 3) -> dropped entirely
        ("p", 2, "z"), ("q", 2, "z"), ("r", 2, "z"), ("s", 2, "z"),
        # singleton bucket -> nothing
        ("t", 3, "w"),
    ]
    band_df = spark.createDataFrame(rows, "doc_id string, band int, band_sig string")
    got = _rows(candidate_pairs_lsh(band_df, max_bucket=3))
    assert got == [("a", "b"), ("a", "c"), ("b", "c")]


def test_candidate_pairs_no_self_pair_on_duplicate_doc(spark):
    """r7 review: a doc_id appearing twice in one bucket must not emit a
    (d, d) self-pair — the old self-join's a.doc_id < b.doc_id guard,
    re-established by the in-bucket array_distinct."""
    rows = [("d", 0, "x"), ("d", 0, "x"), ("e", 0, "x")]
    band_df = spark.createDataFrame(rows, "doc_id string, band int, band_sig string")
    assert _rows(candidate_pairs_lsh(band_df, max_bucket=10)) == [("d", "e")]


def test_explode_shingles_drops_empty_and_null_arrays(spark):
    """r7 review: explode_outer would emit a NULL-shingle row for an
    empty/NULL array (md5/concat_ws would then fabricate a phantom
    signature); the generator-output filter must drop such docs exactly
    like the inner explode did."""
    arr = spark.createDataFrame(
        [("a", ["x y z"]), ("b", []), ("c", None)],
        "doc_id string, shingles array<string>",
    )
    assert _rows(explode_shingles(arr)) == [("a", "x y z")]


def test_simhash_identical_across_shingle_fronts(spark, docs):
    """simhash fed by the per-row array front must equal simhash fed by
    the window/tokenize row front (the r6 input) — the fingerprint must
    not depend on which shingle formulation produced its input."""
    via_arrays = simhash(explode_shingles(shingle_arrays(docs, n=3)))
    via_rows = simhash(shingles(tokenize(docs), n=3))
    got = _rows(via_arrays)
    assert got == _rows(via_rows)
    assert got  # non-vacuous


def test_rowwise_chain_plan_shapes(spark, docs):
    """The physical contract the rewrite bought (r7):

    * shingle arrays and their row form add ZERO data exchanges on top
      of their input;
    * no plan evaluates the shingle expression inside a scan-side filter
      (the InferFiltersFromGenerate / filter-pushdown trap that ran
      split(text) per lambda element single-threaded, measured 17-40x).
    """
    sa = shingle_arrays(docs, n=3)
    for df in (sa, explode_shingles(sa)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.findall(r"(?<!Broadcast)Exchange hashpartitioning", plan), plan[:1500]
        for filt in re.findall(r"Filter \(*(.*)", plan):
            assert "array_distinct" not in filt, f"shingle expr in a filter:\n{filt[:400]}"
        scans = re.findall(r"DataFilters: \[([^\]]*)\]", plan)
        for s in scans:
            assert "transform" not in s, f"HOF pushed into scan filter:\n{s[:400]}"
