"""Unit tests for BIO encode/decode, Arrow kernels and connected
components — the pure-logic operators (SURVEY §5.2)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dere_spark.operators.bio import bio_decode, bio_encode
from dere_spark.operators.graph import connected_components
from dere_spark.operators.kernels import (
    GazetteerTagger,
    LinearPairScorer,
    score_pairs_batched,
    tag_tokens_batched,
)


def _labeled(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, token_idx int, left int, right int, bio string"
    )


def test_bio_decode_basic(spark):
    # B I I -> one span; O between spans splits
    rows = [
        ("d", 0, 0, 3, "B"), ("d", 1, 4, 7, "I"), ("d", 2, 8, 11, "I"),
        ("d", 3, 12, 15, "O"), ("d", 4, 16, 19, "B"),
    ]
    out = {
        (r["left"], r["right"], r["n_tokens"])
        for r in bio_decode(_labeled(spark, rows), "T").collect()
    }
    assert out == {(0, 11, 3), (16, 19, 1)}


def test_bio_decode_orphan_i_modes(spark):
    # O I I: non-strict opens a span at the orphan I; strict drops it
    rows = [("d", 0, 0, 3, "O"), ("d", 1, 4, 7, "I"), ("d", 2, 8, 11, "I")]
    non_strict = bio_decode(_labeled(spark, rows), "T", strict=False).collect()
    assert [(r["left"], r["right"]) for r in non_strict] == [(4, 11)]
    assert bio_decode(_labeled(spark, rows), "T", strict=True).count() == 0


def test_bio_decode_leading_orphan_i(spark):
    rows = [("d", 0, 0, 3, "I"), ("d", 1, 4, 7, "I"), ("d", 2, 8, 11, "B")]
    out = sorted(
        (r["left"], r["right"])
        for r in bio_decode(_labeled(spark, rows), "T", strict=False).collect()
    )
    assert out == [(0, 7), (8, 11)]
    strict = bio_decode(_labeled(spark, rows), "T", strict=True).collect()
    assert [(r["left"], r["right"]) for r in strict] == [(8, 11)]


def test_bio_encode_decode_round_trip(spark):
    # multi-token spans: tokens 1-2 and token 4 are spans
    tokens = spark.createDataFrame(
        [("d", i, f"t{i}", i * 4, i * 4 + 3) for i in range(6)],
        "doc_id string, token_idx int, token string, left int, right int",
    )
    spans = spark.createDataFrame(
        [("d", "T", 4, 11), ("d", "T", 16, 19)],
        "doc_id string, span_type string, left int, right int",
    )
    labeled = bio_encode(tokens, spans, "T")
    bio = {r["token_idx"]: r["bio"] for r in labeled.collect()}
    assert bio == {0: "O", 1: "B", 2: "I", 3: "O", 4: "B", 5: "O"}
    decoded = {
        (r["left"], r["right"]) for r in bio_decode(labeled, "T").collect()
    }
    assert decoded == {(4, 11), (16, 19)}


def test_linear_pair_scorer_batched(spark):
    pairs = spark.createDataFrame(
        [(1, 1.0, 2.0), (2, 3.0, -1.0)], "id int, f1 double, f2 double"
    )
    model = LinearPairScorer(feature_cols=("f1", "f2"), weights=(0.5, 2.0), bias=1.0)
    out = {r["id"]: r["model_score"] for r in score_pairs_batched(pairs, model).collect()}
    assert out == {1: 5.5, 2: 0.5}


def test_gazetteer_tagger_batched(spark):
    tokens = spark.createDataFrame(
        [("d", 0, "JOIN"), ("d", 1, "widget"), ("d", 2, "spark")],
        "doc_id string, token_idx int, token string",
    )
    model = GazetteerTagger(gazetteers=(("Operator", ("join",)), ("Object", ("spark",))))
    out = {r["token_idx"]: r["bio_tag"] for r in tag_tokens_batched(tokens, model).collect()}
    assert out == {0: "B-Operator", 1: "O", 2: "B-Object"}


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")],
        "src string, dst string",
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "p": "p"}


def test_kmeans_ivf_recall(spark):
    """IVF with the k-means build must reach recall@10 >= 0.9 vs exact
    brute force on clustered data (the regime IVF is for), with nprobe=2
    of 8 centroids — i.e. scanning ~25% of the corpus."""
    import math

    from dere_spark.operators.similarity import (
        cosine_topk,
        ivf_search_batch,
        kmeans_centroids,
    )

    # 8 deterministic well-separated cluster directions in 16-d, 40
    # points each (small angular jitter), no RNG
    def unit(seed):
        v = [math.sin(0.7 * seed * (i + 1)) + (2.0 if i == seed % 16 else 0.0)
             for i in range(16)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    vid = 0
    for c in range(8):
        base = unit(c)
        for j in range(40):
            jit = [0.02 * math.sin(1.3 * (vid + i)) for i in range(16)]
            rows.append((vid, [b + g for b, g in zip(base, jit)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = kmeans_centroids(emb, k=8, iterations=3)
    queries = emb.where("vec_id % 40 = 7").selectExpr(
        "vec_id as query_id", "embedding"
    )
    approx = ivf_search_batch(emb, cents, queries, k=10, nprobe=2).collect()
    approx_ids = {}
    for r in approx:
        approx_ids.setdefault(r["query_id"], set()).add(r["vec_id"])

    hits = total = 0
    for q in queries.collect():
        exact = {
            r["vec_id"]
            for r in cosine_topk(emb, q["embedding"], k=10).collect()
        }
        hits += len(exact & approx_ids.get(q["query_id"], set()))
        total += len(exact)
    assert total == 80
    assert hits / total >= 0.9, f"recall@10 = {hits / total}"


def _clustered_with_twins():
    """Deterministic clustered vectors + near-identical twins, including
    twins sitting ON cluster-boundary midpoints (the IVF recall hole)."""
    import math

    def norm(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    def base(seed):
        return norm([
            math.sin(0.7 * seed * (i + 1)) + (2.0 if i == seed % 16 else 0.0)
            for i in range(16)
        ])

    rows, vid = [], 0
    for c in range(8):
        b = base(c)
        m = norm([x + y for x, y in zip(base(c), base((c + 1) % 8))])  # midpoint
        for v in (b, m):
            for twin in range(2):  # twin pairs: cosine ~0.99999
                jit = [1e-4 * math.sin(1.3 * (vid + i)) for i in range(16)]
                rows.append((vid, [x + g for x, g in zip(v, jit)]))
                vid += 1
        for j in range(8):  # in-cluster filler
            jit = [0.02 * math.sin(1.1 * (vid + i)) for i in range(16)]
            rows.append((vid, [x + g for x, g in zip(b, jit)]))
            vid += 1
    return rows


def test_embedding_near_dup_recall_vs_brute_force(spark):
    """VERDICT r2 next-step #4: multi-probe (nprobe=2) assignment must
    recover >= 0.95 of the brute-force cosine pairs at the threshold —
    including twin pairs that straddle a centroid boundary."""
    import numpy as np

    from dere_spark.operators.similarity import (
        embedding_near_dup_pairs,
        kmeans_centroids,
    )

    rows = _clustered_with_twins()
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(emb, k=8, iterations=3)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, cents, threshold=0.999).collect()
    }

    mat = np.array([v for _, v in rows])
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = np.round(unit @ unit.T, 6)
    ia, ib = np.where(np.triu(cos >= 0.999, k=1))
    truth = {(int(rows[a][0]), int(rows[b][0])) for a, b in zip(ia, ib)}
    assert truth, "fixture must contain true near-dup pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"near-dup recall {recall} ({len(truth)} true pairs)"
    assert got <= truth  # blocking may lose pairs, never invent them


def test_embedding_near_dup_degenerate_bucket_capped(spark):
    """VERDICT r2 'What's wrong' #2: a degenerate bucket (everything
    near-identical — exactly the near-dup-heavy regime) must be capped
    loudly, bounding the self-join output instead of going quadratic."""
    import math

    from dere_spark.operators.similarity import (
        capped_ivf_buckets,
        embedding_near_dup_pairs,
    )

    rows = [
        (i, [1.0 + 1e-5 * math.sin(i + j) for j in range(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [-1.0] * 8)],
        "centroid_id int, centroid array<double>",
    )
    # every vector lands in the same buckets -> bucket size 60 > cap 20
    capped = embedding_near_dup_pairs(emb, cents, threshold=0.9, max_bucket=20)
    assert capped.count() == 0
    # ... and the cap is AUDITABLE: the probe names the dropped buckets
    audit = {
        (r["centroid_id"], r["bucket_size"])
        for r in capped_ivf_buckets(emb, cents, max_bucket=20).collect()
    }
    assert audit == {(0, 60), (1, 60)}  # nprobe=2 assigns both centroids
    # with a big enough cap the same call yields the full within-bucket set
    full = embedding_near_dup_pairs(emb, cents, threshold=0.9, max_bucket=1000)
    assert full.count() == 60 * 59 // 2
    assert capped_ivf_buckets(emb, cents, max_bucket=1000).count() == 0


def test_recorded_parse_fixture_paths(spark):
    """VERDICT r2 next-step #6: shortest paths over a CHECKED-IN parse of
    a real tutorial sentence (train/10101034.txt: 'However, only
    triflusal and aspirin inhibited purified COX-2 enzyme.'), arcs
    hand-derived in the spacy-2.x/ClearNLP style the reference consumes,
    nodes keyed by character offset exactly as the reference's nx graph
    (slot_classifier.py:385-410). Expected paths computed by hand."""
    import os

    from dere_spark.operators.deppath import shortest_dep_paths

    fx = os.path.join(os.path.dirname(__file__), "fixtures", "dep_edges_tutorial.parquet")
    edges = spark.read.parquet(fx)
    pairs = spark.createDataFrame(
        [
            ("10101034#s3", 14, 61),  # triflusal -> enzyme
            ("10101034#s3", 28, 61),  # aspirin -> enzyme (via conj head)
            ("10101034#s3", 55, 36),  # COX-2 -> inhibited
            ("10101034#s3", 0, 28),   # However -> aspirin
        ],
        "group_id string, from_idx int, to_idx int",
    )
    got = {
        (r["from_idx"], r["to_idx"]): (r["path_len"], r["path_labels"])
        for r in shortest_dep_paths(edges, pairs).collect()
    }
    assert got[(14, 61)] == (2, "nsubj/dobj")
    assert got[(28, 61)] == (3, "conj/nsubj/dobj")
    assert got[(55, 36)] == (2, "compound/dobj")
    assert got[(0, 28)] == (3, "advmod/nsubj/conj")


def test_span_shortest_paths_reference_min_semantics(spark):
    """Reference edge_distance mins over token pairs of multi-token spans
    (slot_classifier.py:644-656), first-found pair winning ties; -1 when
    disconnected."""
    import os

    from dere_spark.operators.deppath import span_shortest_paths

    fx = os.path.join(os.path.dirname(__file__), "fixtures", "dep_edges_tutorial.parquet")
    edges = spark.read.parquet(fx)
    span_pairs = spark.createDataFrame(
        [
            # span 'triflusal and aspirin' {14,24,28} -> 'enzyme' {61}:
            # min over pairs = 2 via triflusal (aspirin would be 3)
            ("10101034#s3", "p1", [14, 24, 28], [61]),
            # 'purified COX-2 enzyme' {46,55,61} -> 'However' {0}: min 2 via enzyme
            ("10101034#s3", "p2", [46, 55, 61], [0]),
            # disconnected node 999 -> -1
            ("10101034#s3", "p3", [999], [36]),
        ],
        "group_id string, pair_id string, from_idxs array<int>, to_idxs array<int>",
    )
    got = {
        r["pair_id"]: (r["path_len"], r["path_labels"])
        for r in span_shortest_paths(edges, span_pairs).collect()
    }
    assert got["p1"] == (2, "nsubj/dobj")
    assert got["p2"] == (2, "dobj/advmod")
    assert got["p3"] == (-1, "")


def test_span_paths_partially_disconnected(spark):
    """Pins the DELIBERATE deviation documented on span_shortest_paths
    (ADVICE r3): a span pair where SOME token pairs disconnect follows
    get_shortest_path semantics — min over the CONNECTED pairs — not
    edge_distance's any-pair-disconnected => -1. Graph: 1 -nsubj- 2,
    1 -dobj- 3; node 9 isolated."""
    from dere_spark.operators.deppath import span_shortest_paths

    edges = spark.createDataFrame(
        [("s1", 2, 1, "nsubj"), ("s1", 3, 1, "dobj")],
        "group_id string, src int, dst int, label string",
    )
    span_pairs = spark.createDataFrame(
        [
            # from-span {2, 9}: token 9 is disconnected, token 2 reaches 3
            # in 2 hops -> the connected pair wins (NOT -1)
            ("s1", "partial", [2, 9], [3]),
            # both sides fully disconnected -> -1/''
            ("s1", "alldisc", [9], [8]),
        ],
        "group_id string, pair_id string, from_idxs array<int>, to_idxs array<int>",
    )
    got = {
        r["pair_id"]: (r["path_len"], r["path_labels"])
        for r in span_shortest_paths(edges, span_pairs).collect()
    }
    assert got["partial"] == (2, "nsubj/dobj")
    assert got["alldisc"] == (-1, "")


def test_shortest_dep_paths_fixture(spark):
    """F6/O1: BFS over a hand-built dependency tree —
        1(root) -nsubj- 2, 1 -dobj- 3, 3 -amod- 4; node 9 isolated."""
    from dere_spark.operators.deppath import shortest_dep_paths

    edges = spark.createDataFrame(
        [("s1", 2, 1, "nsubj"), ("s1", 3, 1, "dobj"), ("s1", 4, 3, "amod")],
        "group_id string, src int, dst int, label string",
    )
    pairs = spark.createDataFrame(
        [("s1", 2, 4), ("s1", 4, 1), ("s1", 2, 2), ("s1", 2, 9)],
        "group_id string, from_idx int, to_idx int",
    )
    rows = {
        (r["from_idx"], r["to_idx"]): r
        for r in shortest_dep_paths(edges, pairs).collect()
    }
    assert rows[(2, 4)]["path_len"] == 3
    assert rows[(2, 4)]["path_labels"] == "nsubj/dobj/amod"
    assert rows[(4, 1)]["path_len"] == 2
    assert rows[(4, 1)]["path_labels"] == "amod/dobj"
    assert rows[(2, 2)]["path_len"] == 0
    assert rows[(2, 9)]["path_len"] == -1  # unreachable


def test_tokenize_null_text_and_regex_sep(spark):
    """Tokenizer contract edges: a NULL text row emits no tokens
    (split(NULL) drops the row), and ``sep`` splits as a Java REGEX, with
    ``sep_len`` as the offset step of a width-1 character class."""
    from dere_spark.operators.tokenize import tokenize

    docs = spark.createDataFrame(
        [("d1", "a b c"), ("d2", None), ("d3", "x")],
        "doc_id string, text string",
    )
    rows = sorted(map(tuple, tokenize(docs).collect()))
    assert rows == [
        ("d1", 0, "a", 0, 1),
        ("d1", 1, "b", 2, 3),
        ("d1", 2, "c", 4, 5),
        ("d3", 0, "x", 0, 1),
    ]
    punct = spark.createDataFrame([("p1", "a,b;c")], "doc_id string, text string")
    rows = sorted(map(tuple, tokenize(punct, sep="[;,]", sep_len=1).collect()))
    assert rows == [("p1", 0, "a", 0, 1), ("p1", 1, "b", 2, 3), ("p1", 2, "c", 4, 5)]


def _tokens(spark, rows):
    from dere_spark.operators.treebank import tokenize_treebank_sql

    return tokenize_treebank_sql(
        spark.createDataFrame(rows, "doc_id string, text string").repartition(2, "doc_id")
    )


def test_detect_spans_empty_gazetteer_keeps_schema(spark):
    """An empty gazetteer is a typed empty map: no spans, same schema."""
    from dere_spark.operators.spans import detect_spans
    from dere_spark.webtext import GAZETTEERS

    tokens = _tokens(spark, [("d1", "join the table")])
    empty = detect_spans(tokens, {})
    assert empty.count() == 0
    assert empty.schema.simpleString() == detect_spans(tokens, GAZETTEERS).schema.simpleString()


def test_detect_spans_term_under_two_types(spark):
    """A term listed under two types gives one span per type; the lookup
    is on the lowercased surface, and the span keeps the surface."""
    from dere_spark.operators.spans import detect_spans

    tokens = _tokens(spark, [("d1", "Merge rows")])
    gaz = {"Operator": ("merge",), "Object": ("MERGE", "rows")}
    rows = sorted(
        (r["token_idx"], r["span_type"], r["text"], r["left"], r["right"])
        for r in detect_spans(tokens, gaz).collect()
    )
    assert rows == [
        (0, "Object", "Merge", 0, 5), (0, "Operator", "Merge", 0, 5),
        (1, "Object", "rows", 6, 10),
    ]


def test_detect_spans_null_and_empty_text(spark):
    """NULL text, empty text and whitespace-only text give no spans, even
    when the gazetteer lists the empty string."""
    from dere_spark.operators.spans import detect_spans

    tokens = _tokens(spark, [("d1", None), ("d2", ""), ("d3", "  "), ("d4", "join")])
    got = detect_spans(tokens, {"Operator": ("join", "")}).collect()
    assert [(r["doc_id"], r["text"]) for r in got] == [("d4", "join")]


def test_frames_to_triples_empty_aliases(spark):
    """With no aliases every mention links to ``ent:<lowercased surface>``;
    a NULL surface stays NULL."""
    from dere_spark.operators.triples import frames_to_triples

    frames = spark.createDataFrame(
        [("d1", 0, "Spark", "Operation.Theme", "Table", 0.5),
         ("d1", 2, "join", "Operation.Manner", None, 0.5)],
        "doc_id string, frame_id int, anchor_text string, predicate string, "
        "filler_text string, score double",
    )
    got = sorted(tuple(r) for r in frames_to_triples(frames, {}).collect())
    assert got == [
        ("ent:join", "Operation.Manner", None, "d1", 2, 0.5),
        ("ent:spark", "Operation.Theme", "ent:table", "d1", 0, 0.5),
    ]
    linked = frames_to_triples(frames, {"spark": "ent:apache_spark"}).collect()
    assert {r["subj"] for r in linked} == {"ent:apache_spark", "ent:join"}


def _union_find_labels(edges):
    """Reference CC labels: union-find over the edge list, each node
    labelled with the min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_cc_matches_hashmin(spark):
    """Hash-min propagation must produce exactly the union-find labels on
    a long chain, a star whose hub is not the minimum, a triangle with a
    pendant and a two-node component. (Named for the large-star/small-star
    variant it once compared against; that variant is deleted.)"""
    from dere_spark.operators.graph import connected_components

    edges = []
    # long chain c00..c19 (diameter stress)
    for i in range(19):
        edges.append((f"c{i:02d}", f"c{i+1:02d}"))
    # star hub with 12 leaves, hub NOT the minimum
    for i in range(12):
        edges.append(("s_hub", f"s_leaf{i:02d}"))
    # triangle + pendant
    edges += [("t1", "t2"), ("t2", "t3"), ("t3", "t1"), ("t3", "t4")]
    # two-node component
    edges += [("z9", "z8")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == _union_find_labels(edges)
    # sanity: chain collapses to its minimum
    assert got["c19"] == "c00"
    assert got["s_hub"] == min(["s_hub"] + [f"s_leaf{i:02d}" for i in range(12)])


def test_count_vectorizer_sklearn_parity(spark):
    """F11: recorded sklearn CountVectorizer semantics — default token
    pattern drops single-char tokens, vocabulary is alphabetical, bigrams
    join with one space."""
    from dere_spark.operators.vectorize import fit_vocabulary, transform_counts

    docs = spark.createDataFrame(
        [("d1", "The cat sat on a mat"), ("d2", "the mat, the CAT!")],
        "doc_id string, text string",
    )
    vocab = {r["term"]: r["index"] for r in fit_vocabulary(docs).collect()}
    # sklearn: CountVectorizer().fit([...]).vocabulary_
    assert vocab == {"cat": 0, "mat": 1, "on": 2, "sat": 3, "the": 4}
    rows = {
        r["doc_id"]: (r["indices"], r["counts"])
        for r in transform_counts(docs, fit_vocabulary(docs)).collect()
    }
    assert rows["d1"] == ([0, 1, 2, 3, 4], [1, 1, 1, 1, 1])
    assert rows["d2"] == ([0, 1, 4], [1, 1, 2])

    # bigrams (ngram_range=(2,2)): sklearn tokenizes first, then windows
    vocab2 = sorted(r["term"] for r in fit_vocabulary(docs, ngram=2).collect())
    assert vocab2 == [
        "cat sat", "mat the", "on mat", "sat on", "the cat", "the mat",
    ]
    rows2 = {
        r["doc_id"]: (r["indices"], r["counts"])
        for r in transform_counts(docs, fit_vocabulary(docs, ngram=2), ngram=2).collect()
    }
    # d2 tokens: the mat the cat -> bigrams: "the mat","mat the","the cat"
    v2 = {r["term"]: r["index"] for r in fit_vocabulary(docs, ngram=2).collect()}
    want_idx = sorted([v2["the mat"], v2["mat the"], v2["the cat"]])
    assert rows2["d2"][0] == want_idx


def test_fit_vocabulary_two_phase_no_global_window(spark):
    """VERDICT r2 'What's wrong' #1: the vocabulary fit must not rank the
    whole distinct-term set through a single unpartitioned window. Every
    window in the fit plan is keyed by the range-partition id, and the
    two-phase indices still equal the global alphabetical rank."""
    import re

    from dere_spark.operators.vectorize import fit_vocabulary

    docs = spark.createDataFrame(
        [(f"d{i}", f"term{i:03d} shared{i % 7:02d} common") for i in range(80)],
        "doc_id string, text string",
    )
    vocab = fit_vocabulary(docs, num_partitions=8)
    plan = vocab._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"no window found in fit plan:\n{plan[:1500]}"
    for spec in specs:
        assert spec.lstrip().startswith("_pid"), (
            f"unpartitioned window in vocabulary fit: {spec}\n{plan[:1500]}"
        )
    got = {r["term"]: r["index"] for r in vocab.collect()}
    assert got == {t: i for i, t in enumerate(sorted(got))}
    # parallelism-invariant: same indices at a different partition count
    again = {r["term"]: r["index"] for r in fit_vocabulary(docs, num_partitions=3).collect()}
    assert again == got


def test_fused_lsh_matches_staged_when_bands_exceed_hashes(spark):
    """ADVICE r4: bands > num_hashes once crashed a banding shape with an
    opaque 'Illegal sequence boundaries'. The band loop is capped at
    min(bands, num_hashes) — bands owning no seed emit no rows — and the
    output must equal a brute-force md5 banding for every config."""
    from dere_spark.operators.dedup import lsh_bands_minagg
    from tests.test_dedup_rowwise import bands_reference

    rows = [(f"d{i}", f"sh{j}") for i in range(4) for j in range(6)]
    sh = spark.createDataFrame(rows, "doc_id string, shingle string")
    for num_hashes, bands in [(2, 4), (1, 3), (16, 4), (4, 4)]:
        got = sorted(tuple(r) for r in lsh_bands_minagg(sh, num_hashes, bands).collect())
        assert got == bands_reference(rows, num_hashes, bands)
        # only bands that own >= 1 seed appear
        assert len({band for _, band, _ in got}) == min(bands, num_hashes)


def test_capped_lsh_buckets_audit(spark):
    """'No silent caps': candidate_pairs_lsh drops over-cap buckets, and
    capped_lsh_buckets with the same arguments names exactly what was
    dropped (empty when the cap binds nothing)."""
    from dere_spark.operators.dedup import candidate_pairs_lsh, capped_lsh_buckets

    rows = [(f"d{i}", 0, "BOILER") for i in range(30)]  # degenerate bucket
    rows += [(f"e{i}", 0, "rare") for i in range(3)]
    band_df = spark.createDataFrame(rows, "doc_id string, band int, band_sig string")
    pairs = candidate_pairs_lsh(band_df, max_bucket=10)
    assert pairs.count() == 3 * 2 // 2  # only the small bucket pairs up
    audit = capped_lsh_buckets(band_df, max_bucket=10).collect()
    assert [(r["band"], r["band_sig"], r["bucket_size"]) for r in audit] == [
        (0, "BOILER", 30)
    ]
    assert capped_lsh_buckets(band_df, max_bucket=100).count() == 0


def test_bio_encode_first_covered_token_is_B_mid_token_span(spark):
    """A span starting MID-token: its first covered token must be B (the
    reference labels the first aligned token B, _bio_span_model.py:100-105).
    The old exact left==s_left test labeled it I, and strict decode then
    dropped the span as an orphan-I run."""
    from dere_spark.operators.bio import bio_decode, bio_encode

    tokens = spark.createDataFrame(
        [("d1", 0, "ab", 0, 2), ("d1", 1, "cd", 3, 5)],
        "doc_id string, token_idx int, token string, left int, right int",
    )
    spans = spark.createDataFrame(
        [("d1", "X", 1, 5)], "doc_id string, span_type string, left int, right int"
    )
    enc = bio_encode(tokens, spans, "X")
    labels = {r["token_idx"]: r["bio"] for r in enc.collect()}
    assert labels == {0: "O", 1: "B"}  # (0,2) not contained; (3,5) starts the span
    dec = bio_decode(enc, "X", strict=True).collect()
    assert [(r["left"], r["right"]) for r in dec] == [(3, 5)]


def test_cc_nonconvergence_raises_loudly(spark):
    """Exhausting the round budget mid-propagation would silently split
    one true component into several — both CC variants must fail loudly
    instead ('no silent caps')."""
    from dere_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(10)], "src string, dst string"
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(chain, max_iterations=3)
    ok = connected_components(chain, max_iterations=15)
    assert ok.select("component").distinct().count() == 1


def test_star_cc_numeric_ids_match_hashmin(spark):
    """Hash-min on NUMERIC ids picks numeric minima and keeps the native
    type: a string cast would pick lexicographic minima ('10' < '2')."""
    from dere_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 10), (10, 30), (5, 7)], "src int, dst int"
    )
    hm = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert hm == {2: 2, 10: 2, 30: 2, 5: 5, 7: 5}
    assert all(isinstance(k, int) and isinstance(v, int) for k, v in hm.items())


def test_span_paths_empty_token_sets_get_sentinel(spark):
    """A span pair whose either token-index array is empty or null must
    come back with the documented -1/'' sentinel, not silently vanish
    (plain explode emitted zero rows for it)."""
    from dere_spark.operators.deppath import span_shortest_paths

    edges = spark.createDataFrame(
        [("g1", 0, 1, "nsubj"), ("g1", 1, 2, "dobj")],
        "group_id string, src int, dst int, label string",
    )
    pairs = spark.createDataFrame(
        [("g1", "p0", [0], [2]), ("g1", "p_empty", [], [2]),
         ("g1", "p_null", None, [2])],
        "group_id string, pair_id string, from_idxs array<int>, to_idxs array<int>",
    )
    got = {
        r["pair_id"]: (r["path_len"], r["path_labels"])
        for r in span_shortest_paths(edges, pairs).collect()
    }
    assert got == {
        "p0": (2, "nsubj/dobj"),
        "p_empty": (-1, ""),
        "p_null": (-1, ""),
    }
