"""Evaluation: the engine's correctness gate (P/R vs reference triples).

Reproduces the reference evaluator's matching semantics
(/root/reference/dere/evaluation.py):

  * span evaluation — exact-match on the span identity 4-tuple
    (document_id, span_type, left, right) over non-'given' spans
    (evaluation.py:14-34, Span.matches corpus.py:206-220) — expressed as
    left-semi (TP) / left-anti (FP/FN) equi-joins, fully distributed;
  * frame evaluation — two frames are equivalent iff their connected
    components (over the frame→frame slot graph) are isomorphic under
    node_match (same frame type; per-slot filler counts equal; every span
    filler of the gold frame matched by identity in the hypo frame) and
    edge_match (same slot type); matched hypo components are consumed
    greedily to prevent double-counting (evaluation.py:36-90). Components
    are tiny (a handful of frames), so the matcher runs per document inside
    an Arrow ``applyInPandas`` kernel — the doc-partitioned fold the
    reference does serially (evaluation.py:93-124) becomes a groupBy;
  * per-type TP/FP/FN fold — the Result commutative monoid
    (evaluation.py:293-314) is exactly ``groupBy(kind, type).sum()``;
  * report — precision/recall/F-beta table in the reference's format
    (evaluation.py:332-366), rendered driver-side from the tiny aggregate.

Greedy tie order matters (evaluation.py:68-76: gold components outer in
corpus order, hypo list order inner); we order components by their frames'
file order (line_no) so results replicate the reference's iteration order.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

SPAN_KEY = ["doc_id", "span_type", "left", "right"]


# ---------------------------------------------------------------------------
# Span evaluation (distributed joins)
# ---------------------------------------------------------------------------

def span_eval_counts(hypo_spans: DataFrame, gold_spans: DataFrame) -> DataFrame:
    """Per-span-type TP/FP/FN via distinct-key semi/anti joins.

    Matches the reference's exists-semantics: every hypo span matching ANY
    gold span is a TP (duplicates each count), so the join key set on the
    opposite side is deduplicated before joining.
    """
    h = hypo_spans.where(F.col("source") != "given")
    g = gold_spans.where(F.col("source") != "given")
    g_keys = g.select(*SPAN_KEY).distinct()
    h_keys = h.select(*SPAN_KEY).distinct()
    tp = (
        h.join(g_keys, SPAN_KEY, "left_semi")
        .groupBy("span_type")
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    fp = (
        h.join(g_keys, SPAN_KEY, "left_anti")
        .groupBy("span_type")
        .agg(F.count(F.lit(1)).alias("fp"))
    )
    fn = (
        g.join(h_keys, SPAN_KEY, "left_anti")
        .groupBy("span_type")
        .agg(F.count(F.lit(1)).alias("fn"))
    )
    out = (
        tp.join(fp, "span_type", "full_outer")
        .join(fn, "span_type", "full_outer")
        .select(
            F.lit("span").alias("kind"),
            F.col("span_type").alias("type_name"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Frame evaluation (per-doc Arrow kernel)
# ---------------------------------------------------------------------------

def _frame_fill_rows(frames: DataFrame, slot_fills: DataFrame, spans: DataFrame, side: str) -> DataFrame:
    """Flatten one corpus side to per-fill rows carrying span identities."""
    f = frames.select(
        "doc_id",
        F.col("tag").alias("frame_tag"),
        "frame_type",
        F.col("source").alias("frame_source"),
        F.col("line_no").alias("frame_order"),
    )
    s = spans.select(
        "doc_id",
        F.col("tag").alias("filler_tag"),
        F.col("span_type").alias("f_span_type"),
        F.col("left").alias("f_left"),
        F.col("right").alias("f_right"),
    )
    # frames LEFT-join fills: a frame with NO slot fills must still reach
    # the matcher as a node (the reference's frame_graph adds every frame,
    # corpus.py:96-98, so a slot-less predicted frame is a countable FP
    # singleton component — an inner join from slot_fills dropped it)
    rows = (
        f.join(
            slot_fills.select(
                "doc_id", "frame_tag", "slot_name", "fill_idx", "filler_tag", "filler_kind"
            ),
            ["doc_id", "frame_tag"],
            "left",
        )
        .join(s, ["doc_id", "filler_tag"], "left")
        .withColumn("side", F.lit(side))
    )
    return rows


_MATCH_SCHEMA = "kind string, type_name string, outcome string, n long"


def _node_match(f1: dict, f2: dict) -> bool:
    """Reference node_match (evaluation.py:46-61): same frame type; for
    every slot of f1, filler counts equal, and every SPAN filler of f1
    matches some filler of f2 by span identity."""
    if f1["frame_type"] != f2["frame_type"]:
        return False
    slots = set(f1["slots"]) | set(f2["slots"])
    for slot in slots:
        fills1 = f1["slots"].get(slot, [])
        fills2 = f2["slots"].get(slot, [])
        if len(fills1) != len(fills2):
            return False
        spans2 = {x[1] for x in fills2 if x[0] == "span"}
        for kind, ident in fills1:
            if kind == "span" and ident not in spans2:
                return False
    return True


def _is_isomorphic(cc1: dict, cc2: dict) -> bool:
    """Exact directed-graph isomorphism with node/edge label matching for
    tiny components (brute force over candidate bijections; components are
    bounded by per-sentence event counts)."""
    n1, n2 = cc1["nodes"], cc2["nodes"]
    if len(n1) != len(n2):
        return False
    if sorted(cc1["degrees"]) != sorted(cc2["degrees"]):
        return False
    ids1 = list(n1)
    cands = {
        a: [b for b in n2 if _node_match(n1[a], n2[b])]
        for a in ids1
    }
    if any(not c for c in cands.values()):
        return False

    edges1, edges2 = cc1["edges"], cc2["edges"]

    def backtrack(i: int, mapping: Dict[str, str], used: set) -> bool:
        if i == len(ids1):
            return True
        a = ids1[i]
        for b in cands[a]:
            if b in used:
                continue
            mapping[a] = b
            used.add(b)
            ok = True
            # check edges between a and already-mapped nodes (both directions)
            for (x, y), slot in edges1.items():
                if x == a and y in mapping:
                    if edges2.get((b, mapping[y])) != slot:
                        ok = False
                        break
                elif y == a and x in mapping:
                    if edges2.get((mapping[x], b)) != slot:
                        ok = False
                        break
            if ok and backtrack(i + 1, mapping, used):
                return True
            del mapping[a]
            used.discard(b)
        return False

    if not backtrack(0, {}, set()):
        return False
    # edge-count equality (mapped edges checked pairwise above covers
    # edges1 ⊆ edges2 under the bijection; require equal sizes for ⊇)
    return len(edges1) == len(edges2)


def _build_components(rows: pd.DataFrame) -> List[dict]:
    """Group one side's fill rows into frame objects, build the frame→frame
    graph, return connected components ordered by first frame file order."""
    frames: Dict[Tuple[int, str], dict] = {}
    # fixed iteration order: fills arrive in Spark shuffle order, and both
    # the slots lists and the edge-label last-write below must not depend
    # on it (two slots filling the same target frame would otherwise get a
    # run-dependent edge label, flipping isomorphism results between runs)
    rows = rows.sort_values(
        ["frame_tag", "slot_name", "fill_idx"], na_position="first"
    )
    for r in rows.itertuples():
        key = r.frame_tag
        fr = frames.setdefault(
            key,
            {
                "frame_type": r.frame_type,
                "source": r.frame_source,
                "order": r.frame_order,
                "slots": {},
            },
        )
        if pd.isna(r.slot_name):
            continue  # slot-less frame: node only, no fills
        if r.filler_kind == "span":
            ident = (r.f_span_type, int(r.f_left) if pd.notna(r.f_left) else -1,
                     int(r.f_right) if pd.notna(r.f_right) else -1)
            fr["slots"].setdefault(r.slot_name, []).append(("span", ident))
        else:
            fr["slots"].setdefault(r.slot_name, []).append(("frame", r.filler_tag))

    # frame->frame edges labeled by slot name (corpus.py:87-103)
    edges: Dict[Tuple[str, str], str] = {}
    adj: Dict[str, set] = {t: set() for t in frames}
    for tag, fr in frames.items():
        for slot, fills in fr["slots"].items():
            for kind, ident in fills:
                if kind == "frame" and ident in frames:
                    edges[(tag, ident)] = slot
                    adj[tag].add(ident)
                    adj[ident].add(tag)

    # undirected connected components (evaluation.py:42-43)
    seen: set = set()
    comps: List[dict] = []
    for start in sorted(frames, key=lambda t: frames[t]["order"]):
        if start in seen:
            continue
        stack, comp = [start], set()
        while stack:
            u = stack.pop()
            if u in comp:
                continue
            comp.add(u)
            stack.extend(adj[u] - comp)
        seen |= comp
        cedges = {(x, y): s for (x, y), s in edges.items() if x in comp}
        comps.append(
            {
                "nodes": {t: frames[t] for t in comp},
                "edges": cedges,
                "degrees": sorted(len(adj[t]) for t in comp),
                "order": min(frames[t]["order"] for t in comp),
            }
        )
    comps.sort(key=lambda c: c["order"])
    return comps


def _match_document(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-document frame matching: greedy consume-on-match over components
    (evaluation.py:68-88)."""
    hccs = _build_components(pdf[pdf["side"] == "hypo"])
    gccs = _build_components(pdf[pdf["side"] == "gold"])

    counts: Dict[Tuple[str, str], int] = {}

    def bump(type_name: str, outcome: str) -> None:
        counts[(type_name, outcome)] = counts.get((type_name, outcome), 0) + 1

    for gcc in gccs:
        matched = None
        for i, hcc in enumerate(hccs):
            if _is_isomorphic(gcc, hcc):
                matched = i
                break
        if matched is not None:
            del hccs[matched]
            for fr in gcc["nodes"].values():
                if fr["source"] != "given":
                    bump(fr["frame_type"], "tp")
        else:
            for fr in gcc["nodes"].values():
                if fr["source"] != "given":
                    bump(fr["frame_type"], "fn")
    for hcc in hccs:
        for fr in hcc["nodes"].values():
            if fr["source"] != "given":
                bump(fr["frame_type"], "fp")

    out = [
        ("frame", t, o, n) for (t, o), n in counts.items()
    ]
    return pd.DataFrame(out, columns=["kind", "type_name", "outcome", "n"])


def frame_eval_counts(
    hypo: Dict[str, DataFrame], gold: Dict[str, DataFrame]
) -> DataFrame:
    """Distributed frame evaluation: per-doc Arrow kernel + monoid fold."""
    h_rows = _frame_fill_rows(hypo["frames"], hypo["slot_fills"], hypo["spans"], "hypo")
    g_rows = _frame_fill_rows(gold["frames"], gold["slot_fills"], gold["spans"], "gold")
    all_rows = h_rows.unionByName(g_rows)
    per_doc = all_rows.groupBy("doc_id").applyInPandas(
        lambda pdf: _match_document(pdf), _MATCH_SCHEMA
    )
    return (
        per_doc.groupBy("kind", "type_name")
        .pivot("outcome", ["tp", "fp", "fn"])
        .agg(F.sum("n"))
        .select(
            "kind",
            "type_name",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )


# ---------------------------------------------------------------------------
# Result monoid + report (driver-side, over the tiny aggregate)
# ---------------------------------------------------------------------------

@dataclass
class EvalResult:
    """Counts per (kind, type_name) + derived metrics; union is addition
    (the reference Result monoid, evaluation.py:293-314)."""

    counts: Dict[Tuple[str, str], Tuple[int, int, int]] = field(default_factory=dict)

    @classmethod
    def from_df(cls, df: DataFrame) -> "EvalResult":
        r = cls()
        for row in df.collect():
            r.counts[(row["kind"], row["type_name"])] = (
                int(row["tp"]), int(row["fp"]), int(row["fn"])
            )
        return r

    def union(self, other: "EvalResult") -> "EvalResult":
        r = EvalResult(dict(self.counts))
        for k, (tp, fp, fn) in other.counts.items():
            a, b, c = r.counts.get(k, (0, 0, 0))
            r.counts[k] = (a + tp, b + fp, c + fn)
        return r

    __or__ = union

    def _sum(self, kind: Optional[str] = None) -> Tuple[int, int, int]:
        tp = fp = fn = 0
        for (k, _), (a, b, c) in self.counts.items():
            if kind is None or k == kind:
                tp, fp, fn = tp + a, fp + b, fn + c
        return tp, fp, fn

    @staticmethod
    def _prf(tp: int, fp: int, fn: int, beta: float = 1.0) -> Tuple[float, float, float]:
        p = tp / (tp + fp) if tp else 0.0
        r = tp / (tp + fn) if tp else 0.0
        b2 = beta * beta
        f = (1 + b2) / (b2 / p + 1 / r) if p and r else 0.0
        return p, r, f

    def precision(self, kind: Optional[str] = None) -> float:
        return self._prf(*self._sum(kind))[0]

    def recall(self, kind: Optional[str] = None) -> float:
        return self._prf(*self._sum(kind))[1]

    def fscore(self, kind: Optional[str] = None) -> float:
        return self._prf(*self._sum(kind))[2]

    def report(self) -> str:
        """ASCII table in the reference's STYLE (evaluation.py:332-366):
        same columns and section structure, but not byte-identical — this
        report sorts types alphabetically, omits zero-count types, and
        drops the per-section dash separators. Byte-compatible reference
        output is `evaluation_legacy.render_legacy_report`'s contract."""
        rows: List[List[str]] = [["Class", "gold", "answer", "match", "recall", "prec.", "fscore"]]

        def add_row(label: str, tp: int, fp: int, fn: int) -> None:
            p, r, f = self._prf(tp, fp, fn)
            rows.append([label, str(tp + fn), str(tp + fp), str(tp),
                         "%.2f" % (100 * r), "%.2f" % (100 * p), "%.2f" % (100 * f)])

        for kind, header in (("span", "SPAN EVALUATION"), ("frame", "FRAME EVALUATION")):
            rows.append([f"-------------- {header} ------------------"])
            for (k, t), (tp, fp, fn) in sorted(self.counts.items()):
                if k == kind:
                    add_row(t, tp, fp, fn)
            add_row(f"=[{kind.upper()} TOTAL]=", *self._sum(kind))
        add_row("=[TOTAL]=", *self._sum())
        widths = [max(len(r[i]) for r in rows if len(r) > 1) for i in range(7)]
        lines = []
        for r in rows:
            if len(r) == 1:
                lines.append(r[0])
            else:
                lines.append("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())
        return "\n".join(lines)


def evaluate(hypo: Dict[str, DataFrame], gold: Dict[str, DataFrame]) -> EvalResult:
    """Full evaluation: spans + frames, folded to an EvalResult."""
    spans = span_eval_counts(hypo["spans"], gold["spans"])
    frames = frame_eval_counts(hypo, gold)
    return EvalResult.from_df(spans.unionByName(frames))


def adjusted_match_counts(
    hypo: DataFrame,
    gold: DataFrame,
    keys: List[str],
    type_col: str = "span_type",
) -> DataFrame:
    """A4 — per-type existential match counts WITH the legacy scorer's
    duplication adjustment (deRE_evaluation.py:879-924): when several hypo
    rows match the same gold row, matched_answer is clamped to
    min(matched_answer, matched_gold), so duplicated predictions cannot
    inflate precision.

    ``keys`` define the match equality (e.g. the span identity tuple);
    ``type_col`` attributes counts per class. Output one row per type:
    (type_name, n_gold, matched_gold, n_answer, matched_answer,
    adj_matched_answer). All joins are key-equality semi-joins — fully
    distributed, no all-pairs product.
    """
    h = hypo.select(type_col, *[c for c in keys if c != type_col])
    g = gold.select(type_col, *[c for c in keys if c != type_col])
    n_answer = h.groupBy(type_col).agg(F.count(F.lit(1)).alias("n_answer"))
    n_gold = g.groupBy(type_col).agg(F.count(F.lit(1)).alias("n_gold"))
    matched_answer = (
        h.join(g, keys, "left_semi")
        .groupBy(type_col)
        .agg(F.count(F.lit(1)).alias("matched_answer"))
    )
    matched_gold = (
        g.join(h, keys, "left_semi")
        .groupBy(type_col)
        .agg(F.count(F.lit(1)).alias("matched_gold"))
    )
    out = (
        n_gold.join(n_answer, type_col, "full_outer")
        .join(matched_gold, type_col, "full_outer")
        .join(matched_answer, type_col, "full_outer")
        .select(
            F.col(type_col).alias("type_name"),
            F.coalesce("n_gold", F.lit(0)).alias("n_gold"),
            F.coalesce("matched_gold", F.lit(0)).alias("matched_gold"),
            F.coalesce("n_answer", F.lit(0)).alias("n_answer"),
            F.coalesce("matched_answer", F.lit(0)).alias("matched_answer"),
        )
    )
    return out.withColumn(
        "adj_matched_answer", F.least("matched_answer", "matched_gold")
    )
