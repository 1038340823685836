"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.bench_work/``, runs the workload on
``local[<cores>]`` for at least ``--seconds``, checks its outputs, and
prints a report followed by one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, from spans
around calls into the package and from Spark's status store (the spans
are written to ``.bench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def instrument(tracer) -> None:
    """Trace the package's public entry points, patched where looked up."""
    from bigdata_lab4_spark import catalog, engine, session, streaming
    from bigdata_lab4_spark.functions import minhash, text
    from bigdata_lab4_spark.ml import pipeline, tfidf
    from bigdata_lab4_spark.queries import llm
    from bigdata_lab4_spark.serving import SentimentAPI
    from bigdata_lab4_spark.streaming import windows

    for layer, mod, attrs in (
        ("session", session, ["get_spark"]),
        ("catalog", catalog, ["load_table", "register_views"]),
        ("engine", engine, ["run_sql", "insert_prediction", "create_predictions_table"]),
        ("functions", text, ["clean_text_col", "tokens_col"]),
        ("functions", minhash, ["minhash_fingerprint_udf"]),
        ("queries.llm", llm, ["minhash_lsh_pairs", "simhash_neardup_pairs"]),
        ("streaming", windows,
         ["read_events_stream", "tumbling_event_counts", "dedup_events_stream", "run_available_now"]),
        ("streaming", streaming, ["sessionize_stream"]),
    ):
        for attr in attrs:
            tracer.patch_function(mod, attr, f"{layer}.{attr}")
    tracer.patch_method(pipeline.SentimentPipeline, "fit", "ml.pipeline.fit")
    tracer.patch_method(pipeline.SentimentModel, "predict_one", "ml.pipeline.predict_one")
    tracer.patch_method(tfidf.SklearnTfidf, "fit", "ml.tfidf.fit")
    tracer.patch_method(SentimentAPI, "predict", "serving.predict")
    # /predictions is one request in ten: trace it even while the serving
    # loop has spans switched off to time untraced /predict requests
    tracer.patch_method(SentimentAPI, "predictions", "serving.predictions", always=True)
    tracer.patch_function(engine, "top_k_predictions", "engine.top_k_predictions", always=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[0] = ROOT  # the package and perfbench, not this script's directory
    try:
        import bigdata_lab4_spark.queries  # noqa: F401  (registers the declared queries)
        import bigdata_lab4_spark.ml  # noqa: F401
        import bigdata_lab4_spark.serving  # noqa: F401
        import bigdata_lab4_spark.streaming  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is missing: {exc}", file=sys.stderr)
        return 2

    from perfbench.harness import Run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    if run.tracer is not None:
        instrument(run.tracer)
    try:
        WORKLOADS[args.workload](run)
        if run.tracer is not None:
            run.tracer.dump(os.path.join(run.out_dir, f"trace-{args.workload}-{args.seed}.json"))
        result = run.print_report(
            [m["name"] for m in spec["per_layer"]], [m["name"] for m in spec["end_to_end"]]
        )
    finally:
        if run.tracer is not None:
            run.tracer.unpatch()
        run.close()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
