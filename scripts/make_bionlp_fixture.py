#!/usr/bin/env python
"""Write the seeded BioNLP mini corpus that pins the bionlp predict paths.

    python scripts/make_bionlp_fixture.py [--out DIR]

Default DIR is tests/fixtures/bionlp_mini. It receives:

  * ``bionlpst.xml`` — a task spec shaped like the shared task's: Protein
    given, the nine trigger types predicted, each frame anchored at its
    same-named trigger span, regulation Themes and Causes that may be
    filled by any frame type, and an unbounded Binding.Theme;
  * ``train/`` and ``test/`` — BRAT directories (``.txt`` one instance per
    line, ``.a1`` given Proteins, ``.a2`` gold triggers and events).

Sentences come from fixed templates filled by ``random.Random(SEED)``, so
the output is byte-identical on every run. The templates cover what the
predict paths branch on: regulations of events (frame-kind Themes),
two-Theme Bindings, triggers that abut punctuation, hyphen compounds
around a trigger, and protein-free sentences whose event triggers find no
Theme (a regulation pointing at one is pruned).
"""

from __future__ import annotations

import argparse
import os
import random

SEED = 20261018
N_TRAIN, N_TEST = 10, 4

TRIGGER_TYPES = (
    "Gene_expression", "Transcription", "Protein_catabolism", "Phosphorylation",
    "Localization", "Binding", "Regulation", "Positive_regulation",
    "Negative_regulation",
)
REGULATION_TYPES = ("Regulation", "Positive_regulation", "Negative_regulation")

PROTEINS = (
    "IL-2", "TNF-alpha", "NF-kappaB", "p53", "c-Fos", "STAT3", "BCL-6",
    "CD28", "IkBa", "GATA-3", "Jun", "IRF-4",
)

# Templates: text with {P0}/{P1} protein slots and {T0}/{T1} trigger slots
# (trigger slot -> (type, surface choices)); events reference triggers by
# slot, Themes/Causes by protein slot ("P0") or event index ("E0").
TEMPLATES = (
    ("{P0} {T0} was detected in resting T cells.",
     {"T0": ("Gene_expression", ("expression", "production", "synthesis"))},
     [("T0", [("Theme", "P0")])]),
    ("{T0} of {P0} {T1} was observed.",
     {"T0": ("Positive_regulation", ("Activation", "Induction", "Stimulation")),
      "T1": ("Gene_expression", ("expression", "production"))},
     [("T1", [("Theme", "P0")]), ("T0", [("Theme", "E0")])]),
    ("{P0} {T0} {P1} in vitro.",
     {"T0": ("Binding", ("binds", "associates", "interacts"))},
     [("T0", [("Theme", "P0"), ("Theme", "P1")])]),
    ("{P0} {T0} the {T1} of {P1}.",
     {"T0": ("Negative_regulation", ("inhibits", "blocks", "reduces")),
      "T1": ("Phosphorylation", ("phosphorylation",))},
     [("T1", [("Theme", "P1")]), ("T0", [("Theme", "E0"), ("Cause", "P0")])]),
    ("In these cells {P0} underwent {T0}.",
     {"T0": ("Protein_catabolism", ("degradation", "proteolysis"))},
     [("T0", [("Theme", "P0")])]),
    ("Nuclear {T0} of {P0} required {P1}.",
     {"T0": ("Localization", ("translocation", "import"))},
     [("T0", [("Theme", "P0")])]),
    ("{P0} {T0}, however, was unchanged.",
     {"T0": ("Transcription", ("transcription",))},
     [("T0", [("Theme", "P0")])]),
    ("{P0} {T0} {P1} {T1} in activated B cells.",
     {"T0": ("Regulation", ("regulates", "controls", "modulates")),
      "T1": ("Gene_expression", ("expression", "production"))},
     [("T1", [("Theme", "P1")]), ("T0", [("Theme", "E0"), ("Cause", "P0")])]),
    ("{P0}-{T0} {T1} of {P1} was strong.",
     {"T0": ("Positive_regulation", ("induced", "mediated")),
      "T1": ("Phosphorylation", ("phosphorylation",))},
     [("T1", [("Theme", "P1")]), ("T0", [("Theme", "E0"), ("Cause", "P0")])]),
    ("{T0} of {P0} and {P1} was weak.",
     {"T0": ("Binding", ("Binding", "Association"))},
     [("T0", [("Theme", "P0"), ("Theme", "P1")])]),
    # protein-free: surfaces that are triggers elsewhere, here with no event
    ("{T0} of {T1} was also studied here.",
     {"T0": ("Positive_regulation", ("Activation", "Induction")),
      "T1": ("Gene_expression", ("expression", "synthesis"))},
     []),
    ("These data were reproducible.", {}, []),
)

TITLES = (
    "Signalling in human lymphocytes",
    "Control of cytokine genes",
    "Transcription factors in T cells",
)


def spec_xml() -> str:
    frame_refs = ",".join(["span:Protein"] + [f"frame:{t}" for t in TRIGGER_TYPES])
    lines = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<deREschema name="BioNLP-ST mini" version="0.1" author="dere_spark">',
        "  <spans>",
        '    <span name="Protein" predict="False"/>',
    ]
    lines += [f'    <span name="{t}" predict="True"/>' for t in TRIGGER_TYPES]
    lines += ["  </spans>", "  <frames>"]
    for t in TRIGGER_TYPES:
        lines.append(f'    <frame name="{t}">')
        lines.append(f'      <slot name="{t}" types="span:{t}" cardinality="1"/>')
        if t in REGULATION_TYPES:
            lines.append(f'      <slot name="Theme" types="{frame_refs}" cardinality="1"/>')
            lines.append(
                f'      <slot name="Cause" types="{frame_refs}" '
                'mincardinality="0" maxcardinality="1"/>'
            )
        elif t == "Binding":
            lines.append('      <slot name="Theme" types="span:Protein"/>')
        else:
            lines.append('      <slot name="Theme" types="span:Protein" cardinality="1"/>')
        lines.append("    </frame>")
    lines += ["  </frames>", "</deREschema>", ""]
    return "\n".join(lines)


def _fill(template: str, values: dict) -> tuple:
    """Render a template; return (text, {slot: (left, right)})."""
    text, offsets, rest = "", {}, template
    while "{" in rest:
        head, rest = rest.split("{", 1)
        slot, rest = rest.split("}", 1)
        text += head
        offsets[slot] = (len(text), len(text) + len(values[slot]))
        text += values[slot]
    return text + rest, offsets


def make_doc(rng: random.Random, templates: list) -> tuple:
    """One document: (txt, a1, a2) BRAT file contents."""
    lines = [rng.choice(TITLES)]
    given, gold_spans, events = [], [], []
    base = len(lines[0]) + 1
    for text_t, trig_slots, evs in templates:
        prots = rng.sample(PROTEINS, 2)
        values = {"P0": prots[0], "P1": prots[1]}
        for slot, (_, surfaces) in trig_slots.items():
            values[slot] = rng.choice(surfaces)
        text, offs = _fill(text_t, values)
        ids = {}
        for slot in ("P0", "P1"):
            if slot in offs:
                given.append(("Protein", base + offs[slot][0], base + offs[slot][1], values[slot]))
                ids[slot] = f"T{len(given)}"
        # a trigger is annotated only where it anchors an event
        trig_ids = {}
        for slot, (typ, _) in trig_slots.items():
            if not any(trig == slot for trig, _ in evs):
                continue
            l, r = offs[slot]
            gold_spans.append((slot, typ, base + l, base + r, values[slot]))
            trig_ids[slot] = len(gold_spans) - 1
        local_events = []
        for trig_slot, args in evs:
            local_events.append((trig_ids[trig_slot], args, ids))
        events.append(local_events)
        lines.append(text)
        base += len(text) + 1
    # number T-lines: given first (a1), then gold triggers (a2)
    a1 = [f"T{i + 1}\t{t} {l} {r}\t{s}" for i, (t, l, r, s) in enumerate(given)]
    t_of = {}
    a2 = []
    for j, (_, typ, l, r, s) in enumerate(gold_spans):
        t_of[j] = f"T{len(given) + j + 1}"
        a2.append(f"{t_of[j]}\t{typ} {l} {r}\t{s}")
    n_e = 0
    for local_events in events:
        e_ids = []
        for trig, args, ids in local_events:
            n_e += 1
            e_ids.append(f"E{n_e}")
            typ = gold_spans[trig][1]
            parts = [f"{typ}:{t_of[trig]}"]
            for slot, ref in args:
                parts.append(f"{slot}:{ids[ref] if ref.startswith('P') else e_ids[int(ref[1:])]}")
            a2.append(f"E{n_e}\t" + " ".join(parts))
    return (
        "\n".join(lines) + "\n",
        "\n".join(a1) + ("\n" if a1 else ""),
        "\n".join(a2) + ("\n" if a2 else ""),
    )


def write_fixture(out: str) -> None:
    rng = random.Random(SEED)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "bionlpst.xml"), "w") as f:
        f.write(spec_xml())
    for split, n_docs, n_sentences in (("train", N_TRAIN, 50), ("test", N_TEST, 16)):
        d = os.path.join(out, split)
        os.makedirs(d, exist_ok=True)
        # every template at least once per split, then shuffled into docs
        order = list(TEMPLATES) * (n_sentences // len(TEMPLATES))
        order += rng.sample(TEMPLATES, n_sentences - len(order))
        rng.shuffle(order)
        for i in range(n_docs):
            txt, a1, a2 = make_doc(rng, order[i::n_docs])
            for ext, body in (("txt", txt), ("a1", a1), ("a2", a2)):
                with open(os.path.join(d, f"{split}{i:02d}.{ext}"), "w") as f:
                    f.write(body)


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", default=os.path.join(here, "tests", "fixtures", "bionlp_mini"))
    write_fixture(p.parse_args().out)


if __name__ == "__main__":
    main()
