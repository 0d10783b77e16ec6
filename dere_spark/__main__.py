"""CLI — the reference's click entry points re-expressed
(/root/reference/dere/__main__.py:82-246: build/train/predict/evaluate).

    python -m dere_spark predict  --spec S --corpus DIR --out DIR [--model-dir M]
    python -m dere_spark evaluate --spec S --hypo DIR --gold DIR
    python -m dere_spark extract  --input SFDIR --out DIR       (webtext KG)
    python -m dere_spark train    --spec S --corpus DIR --model-dir M
    python -m dere_spark bench                                    (headline)
    python -m dere_spark score-legacy --hypo DIR --gold DIR [--soft-span]

`predict` runs the flat BioNLP extractor (`bionlp.predicted_corpus`):
gazetteer triggers — the gazetteer of a built --model-dir artifact, or one
induced from --corpus-train — or, with --tagger, the calibrated learned
tagger, then the nearest-Theme frame rule; it dumps BRAT .a2 files.
`--model-dir` supplies only the gazetteer: the `theme_model` metadata that
`train` writes is not read by `predict`. `evaluate` prints the
reference-format report; `extract` materializes the partitioned
(subj, pred, obj) triples table.
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark(cpus: int):
    from dere_spark.session import get_spark

    return get_spark("dere_spark_cli", cpus=cpus)


def cmd_evaluate(args) -> int:
    from dere_spark.evaluation import evaluate
    from dere_spark.sources.xmlcorpus import load_corpus_auto
    from dere_spark.taskspec import load_task_spec

    spark = _spark(args.cpus)
    spec = load_task_spec(args.spec)
    hypo = load_corpus_auto(spark, args.hypo, spec)
    gold = load_corpus_auto(spark, args.gold, spec)
    result = evaluate(hypo, gold)
    print(result.report())
    spark.stop()
    return 0


def cmd_predict(args) -> int:
    from dere_spark.bionlp import (
        induce_trigger_gazetteer_filtered,
        predicted_corpus,
    )
    from dere_spark.sources.brat import dump_brat, load_brat
    from dere_spark.taskspec import load_task_spec

    spark = _spark(args.cpus)
    spec = load_task_spec(args.spec)
    corpus = load_brat(spark, args.corpus, spec, load_gold=False)
    if getattr(args, "model_dir", None):
        # built artifact path: build -> predict, no training corpus needed
        from dere_spark.bionlp import gazetteer_from_model
        from dere_spark.plans.models import load_model

        if getattr(args, "corpus_train", None):
            raise SystemExit(
                "--corpus-train and --model-dir are mutually exclusive: a "
                "built artifact already carries its gazetteer (drop one)"
            )
        # expected_class turns a wrong-artifact mistake into a clear
        # manifest-level error instead of an AttributeError downstream
        # (ADVICE r3)
        model, _ = load_model(
            args.model_dir,
            expected_class="dere_spark.operators.kernels.GazetteerTagger",
        )
        gaz = gazetteer_from_model(spark, model)
        train = None
    else:
        train = load_brat(spark, args.corpus_train or args.corpus, spec)
        gaz = induce_trigger_gazetteer_filtered(train, args.min_trigger_precision)
    triggers = None
    if getattr(args, "tagger", False):
        if train is None:
            raise SystemExit("--tagger needs a training corpus, not --model-dir")
        from dere_spark.bionlp import tagged_triggers

        triggers = tagged_triggers(spark, train, corpus)
    hypo = predicted_corpus(spark, corpus, spec, gaz, triggers=triggers)
    os.makedirs(args.out, exist_ok=True)
    for row in dump_brat(hypo, just_predictions=True).collect():
        with open(os.path.join(args.out, f"{row['doc_id']}.a2"), "w") as f:
            f.write(row["a2"])
    print(f"wrote predictions for {corpus['instances'].select('doc_id').distinct().count()} docs to {args.out}")
    spark.stop()
    return 0


def cmd_extract(args) -> int:
    from dere_spark.operators.triples import write_triples
    from dere_spark.webtext import extract_triples

    spark = _spark(args.cpus)
    triples = extract_triples(spark, args.input)
    write_triples(triples, args.out)
    n = spark.read.parquet(args.out).count()
    print(f"wrote {n} triples to {args.out} (partitioned by pred)")
    spark.stop()
    return 0


def cmd_train(args) -> int:
    """Fit and save an artifact `predict --model-dir` can actually load:
    the payload is the induced-and-precision-filtered GazetteerTagger
    (the class cmd_predict hard-requires), and the fitted theme model
    rides in metadata. The previous shape — an empty LinearPairScorer
    shell — failed predict's expected_class check, so the advertised
    train -> predict lifecycle always raised."""
    from dere_spark.bionlp import (
        induce_trigger_gazetteer_filtered,
        train_theme_model,
    )
    from dere_spark.plans.models import save_model
    from dere_spark.operators.kernels import GazetteerTagger
    from dere_spark.sources.brat import load_brat
    from dere_spark.taskspec import load_task_spec

    spark = _spark(args.cpus)
    spec = load_task_spec(args.spec)
    train = load_brat(spark, args.corpus, spec)
    theme_model = train_theme_model(train)
    by_type: dict = {}
    for r in induce_trigger_gazetteer_filtered(
        train, args.min_trigger_precision
    ).collect():
        by_type.setdefault(r["span_type"], []).append(r["term"])
    tagger = GazetteerTagger(
        gazetteers=tuple(
            (t, tuple(sorted(terms))) for t, terms in sorted(by_type.items())
        )
    )
    manifest = save_model(
        tagger,
        args.model_dir,
        metadata={"theme_model": {k: list(v) for k, v in theme_model.items()},
                  "spec": args.spec},
    )
    print(f"saved model to {args.model_dir} ({manifest['payload_md5']})")
    spark.stop()
    return 0


def cmd_score_legacy(args) -> int:
    from dere_spark.evaluation_legacy import (
        legacy_event_scores,
        load_legacy_pairs,
        render_legacy_report,
    )

    spark = _spark(args.cpus)
    pairs = load_legacy_pairs(spark, args.gold, args.hypo)
    scores = legacy_event_scores(
        pairs,
        soft_span=args.soft_span,
        soft_overlap_span=args.soft_overlap_span,
        variant=args.variant,
    )
    print(render_legacy_report(scores, variant=args.variant))
    spark.stop()
    return 0


def cmd_build(args) -> int:
    # the reference's `build` step (dere/__main__.py:105-129): no Spark
    # session needed — spec parsing + gazetteer load + artifact write
    from dere_spark.plans.models import build_bare_model

    manifest = build_bare_model(args.task_spec, args.model_spec, args.outfile)
    print(f"built bare {manifest['metadata']['model_type']} model at "
          f"{args.outfile} ({manifest['payload_md5']})")
    return 0


def cmd_bench(args) -> int:
    import subprocess

    return subprocess.call([sys.executable, "bench.py"])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="dere_spark")
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    sub = p.add_subparsers(dest="cmd", required=True)

    pc = sub.add_parser(
        "build", help="task spec + model spec -> bare (untrained) model"
    )
    pc.add_argument("--task-spec", required=True)
    pc.add_argument("--model-spec", required=True)
    pc.add_argument("--outfile", default="bare_model")
    pc.set_defaults(fn=cmd_build)

    pe = sub.add_parser("evaluate", help="reference-format P/R/F report")
    pe.add_argument("--spec", required=True)
    pe.add_argument("--hypo", required=True)
    pe.add_argument("--gold", required=True)
    pe.set_defaults(fn=cmd_evaluate)

    pp = sub.add_parser("predict", help="predict frames, dump BRAT .a2")
    pp.add_argument("--spec", required=True)
    pp.add_argument("--corpus", required=True)
    pp.add_argument("--corpus-train", default=None,
                    help="corpus to induce the gazetteer from (default: --corpus)")
    pp.add_argument("--out", required=True)
    pp.add_argument("--min-trigger-precision", type=float, default=0.2)
    pp.add_argument(
        "--model-dir", default=None,
        help="use a built model artifact (see `build`) for the trigger "
        "stage instead of inducing a gazetteer from --corpus-train",
    )
    pp.add_argument(
        "--tagger", action="store_true", default=False,
        help="use the learned viability tagger (reference-gazetteer "
        "candidates) instead of the induced-gazetteer trigger stage",
    )
    pp.set_defaults(fn=cmd_predict)

    px = sub.add_parser("extract", help="webtext KG extraction -> triples table")
    px.add_argument("--input", default="/root/testdata/sf0.001")
    px.add_argument("--out", required=True)
    px.set_defaults(fn=cmd_extract)

    pt = sub.add_parser(
        "train",
        help="fit + save a predict-loadable artifact (gazetteer tagger "
        "payload, theme model in metadata)",
    )
    pt.add_argument("--spec", required=True)
    pt.add_argument("--corpus", required=True)
    pt.add_argument("--model-dir", required=True)
    pt.add_argument("--min-trigger-precision", type=float, default=0.2)
    pt.set_defaults(fn=cmd_train)

    pl = sub.add_parser(
        "score-legacy",
        help="legacy shared-task scorer (deRE_evaluation CLI analog)",
    )
    pl.add_argument("--hypo", required=True)
    pl.add_argument("--gold", required=True)
    pl.add_argument("--soft-span", action="store_true", default=False)
    pl.add_argument("--soft-overlap-span", action="store_true", default=False)
    pl.add_argument("--variant", choices=["bionlp", "usage"], default="bionlp")
    pl.set_defaults(fn=cmd_score_legacy)

    pb = sub.add_parser("bench", help="run the headline benchmark")
    pb.set_defaults(fn=cmd_bench)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
