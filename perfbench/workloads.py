"""The benchmark's workloads.

``queries`` — closed loop, one client: repeated passes of a mix of
declared queries (JVM-bound relational ones and the Python-worker LSH
ones) through the noop sink over the seeded tables.

``pipeline`` — the reference's own pipeline: fit the sentiment model on
the seeded tweet corpus, score the corpus in batch, serve it to one
closed-loop HTTP client with the predictions store on (9 ``/predict``
for every ``/predictions``), then drain a replay of seeded events with
re-sent duplicates through the three streaming operators.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from collections import defaultdict
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen, host
from perfbench.harness import Run
from perfbench.sparkstats import ProgressLog, join_output_rows
from perfbench.stats import geomean, min_samples, summarize

#: Scale of the generated tables (lineitem 60 k rows, 500 documents):
#: per-query time here is mostly planning, scheduling and codegen.
SF = 0.01
QUERY_MIX = (
    # JVM codegen, joins, aggregates, windows, SQL passthrough
    "a05_tpch_q1",
    "j07_asof_join",
    "t03_session_window",
    "s08_sql_passthrough",
    "a09_idf",
    # Arrow Python workers (functions.minhash) and salted band self-joins
    "l02b_minhash_lsh",
    "l07b_simhash_neardup",
)
NO_ORACLE = ("l02b_minhash_lsh",)
LSH_QUERIES = ("l02b_minhash_lsh", "l07b_simhash_neardup")
#: Timed passes of the query mix a run makes at least.
MIN_PASSES = 3
#: ``/predict`` samples a run records at least, so that its median has
#: ten samples beyond it.
MIN_PREDICTS = min_samples(50.0)
SETUP_CYCLES = 4

CORPUS_ROWS = 20_000
#: One client, so the audit appends are serial. Concurrent
#: ``engine.insert_prediction`` appends to one parquet directory race on
#: its ``_temporary/0`` staging directory, and serving drops the failed
#: row; the lost-row check counts each such row as a failed operation.
SERVE_CLIENTS = 1
PREDICTIONS_LIMIT = 10
STREAM_EVENTS = 10_000
STREAM_FILES = 2
SESSION_GAP_S = 1800
WATERMARK_S = 600
WATERMARK = f"{WATERMARK_S // 60} minutes"


def _loop_metrics(run: Run, lat_s: list[float], segments: list[tuple[int, float, list[int]]]) -> float:
    """Closed-loop throughput and executor CPU per operation, each the
    median over ``segments`` (operations, wall seconds, Spark job ids):
    one per pass of a query loop, so that the passes still warming up
    weigh no more in a run with more passes. The median latency goes to
    the report. Returns the segments' executor CPU seconds."""
    n = len(lat_s)
    cpu = [run.counters.stages(jobs)["cpu_s"] for _, _, jobs in segments]
    run.metric("loop_ops_per_s", median(k / w for k, w, _ in segments), "1/s", n)
    run.notes.append(f"{run.workload} loop_p50_ms = {median(lat_s) * 1e3:.6g} ms  (n={n})")
    run.metric("cpu_ms_per_op", median(c / k * 1e3 for c, (k, _, _) in zip(cpu, segments)), "ms", n)
    return sum(cpu)


def _peak_rss(run: Run) -> None:
    pids = [os.getpid()] + ([run.jvm_pid()] if run.jvm_pid() else [])
    run.metric("peak_rss_mb", host.peak_rss_mb(pids), "MB")
    parts = ", ".join(f"{host.peak_rss_mb([p]):.6g}" for p in pids)
    run.notes.append(f"{run.workload} peak_rss_mb parts (python driver, JVM) = {parts} MB")


def _overhead(run: Run, on: list[float], off: list[float]) -> None:
    run.layer("trace.overhead_frac", median(on) / median(off) - 1.0 if on and off else 0.0, "fraction")


# -- queries ------------------------------------------------------------

def queries(run: Run) -> None:
    from bigdata_lab4_spark.catalog import TABLES, load_table, register_views
    from bigdata_lab4_spark.registry import REGISTRY

    data = None

    def setup(i: int):
        nonlocal data
        run.start_session()
        data = os.path.join(run.work, f"data{i}")
        t0 = time.perf_counter()
        gen.write_tables(data, SF, run.seed)
        gen_s = time.perf_counter() - t0
        for t in TABLES:
            load_table(run.spark, data, t)
        register_views(run.spark, data)
        load_table(run.spark, data, "lineitem").count()
        return gen_s

    for i in range(SETUP_CYCLES):
        run.timed_setup(lambda: setup(i))
    run.metric("setup_s", median(run.setup_samples), "s", len(run.setup_samples))

    spark = run.spark
    modules = {n: REGISTRY[n].fn.__module__.rsplit(".", 1)[-1] for n in QUERY_MIX}
    groups: dict[str, list[str]] = defaultdict(list)

    def execute(name: str) -> float:
        t0 = time.perf_counter()
        with run.group(f"q:{name}") as gid:
            with run.span(f"queries.{modules[name]}.build"):
                df = REGISTRY[name].fn(spark, data)
            with run.span(f"queries.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
        if gid is not None:
            groups[name].append(gid)
        return time.perf_counter() - t0

    tracing = run.tracer is not None
    if tracing:
        run.tracer.enabled = False
    # Warm-up pass (codegen, JIT, Python workers). It collects each
    # query's output for the checks, so they need no second execution.
    t0 = time.perf_counter()
    outputs = {name: REGISTRY[name].fn(spark, data).toPandas() for name in QUERY_MIX}
    run.notes.append(f"queries warmup_pass_s = {time.perf_counter() - t0:.4g} s")

    per_query: dict[str, list[float]] = defaultdict(list)
    lat: list[float] = []
    passes: dict[bool, list[float]] = {True: [], False: []}
    # untraced passes; traced ones run their jobs in per-query groups
    segments: list[tuple[int, float, list[int]]] = []
    steal0, t0 = host.cpu_totals(), time.perf_counter()
    while True:
        traced = tracing and len(passes[True]) + len(passes[False]) == 2 * len(passes[True])
        if tracing:
            run.tracer.enabled = traced
        jobs0 = set(run.counters.job_ids(None))
        p0 = time.perf_counter()
        for name in QUERY_MIX:
            dt = execute(name)
            per_query[name].append(dt)
            lat.append(dt)
        passes[traced].append(time.perf_counter() - p0)
        if not traced:
            jobs = sorted(set(run.counters.job_ids(None)) - jobs0)
            segments.append((len(QUERY_MIX), passes[False][-1], jobs))
        n_pass = len(passes[True]) + len(passes[False])
        if time.perf_counter() - t0 >= run.seconds and n_pass >= MIN_PASSES:
            break
    steal = host.steal_frac(steal0, host.cpu_totals())
    if tracing:
        run.tracer.enabled = False
    run.attempted += len(lat)

    all_passes = passes[True] + passes[False]
    medians = {n: median(v) for n, v in per_query.items()}
    run.metric("op_geomean_ms", geomean(medians.values()) * 1e3, "ms", len(lat))
    cpu_s = _loop_metrics(run, lat, segments)
    run.notes.append(f"queries query_geomean_s = {geomean(medians.values()):.6g} s  (n={len(lat)})")
    run.notes.append(f"queries pass_s = {median(all_passes):.6g} s  (n={len(all_passes)}; "
                     f"in order: {[round(x, 3) for x in all_passes]})")
    run.notes.append(f"queries pass_cpu_s = {cpu_s / len(segments):.6g} s  (executor CPU, n={len(segments)})")
    for n, v in medians.items():
        run.notes.append(f"queries {n} p50 = {v * 1e3:.4g} ms  (n={len(per_query[n])})")
    run.notes.append(f"host cores = {run.cores}; host.steal_frac = {steal:.4g}")
    _peak_rss(run)

    # -- output checks (outside the timed region) --
    t0 = time.perf_counter()
    duck = checks.duck_connect(data)
    try:
        for name in QUERY_MIX:
            if name not in NO_ORACLE:
                run.fail(len(per_query[name]), checks.oracle(name, outputs[name], duck))
    finally:
        duck.close()
    l02b = "l02b_minhash_lsh"
    run.fail(len(per_query[l02b]), checks.minhash_view(outputs[l02b]) + checks.minhash_recall(spark, data))
    run.notes.append(f"queries checks_s = {time.perf_counter() - t0:.4g} s")

    if not tracing:
        return
    spans = run.layer_spans()
    _overhead(run, passes[True], passes[False])
    run.layer("host.steal_frac", steal, "fraction")
    for key in ("session.get_spark", "catalog.load_table", "catalog.register_views", "engine.run_sql"):
        if key in spans:
            run.layer(f"{key}_s", spans[key]["total_s"], "s")
    run.layer("catalog.load_table_calls", spans.get("catalog.load_table", {}).get("calls", 0), "count")
    n_traced = len(passes[True])
    for mod in sorted(set(modules.values())):
        build = spans.get(f"queries.{mod}.build", {"total_s": 0.0})
        run.layer(f"queries.{mod}.build_s", build["total_s"] / n_traced, "s")
    for name in QUERY_MIX:
        ex = spans[f"queries.{name}.exec"]
        run.layer(f"queries.{name}.exec_s", median(ex["self"]), "s")
        cpu_q = [run.counters.stages(run.counters.job_ids(g))["cpu_s"] for g in groups[name]]
        run.layer(f"queries.{name}.cpu_s", median(cpu_q), "s")
    for name in LSH_QUERIES:
        band_rows = median(
            [join_output_rows(run.counters.sql_metrics(run.counters.job_ids(g))) for g in groups[name]]
        )
        result = len(outputs[name])
        run.layer(f"queries.{name}.pairs_per_candidate", result / band_rows if band_rows else 0.0, "ratio")
    run.finish_layers(
        [run.counters.job_ids(g) for gs in groups.values() for g in gs], sum(passes[True])
    )
    # counters summed over the traced passes; report them per pass
    for key in ("spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
                "spark.gc_s", "spark.shuffle_write_bytes", "spark.input_bytes",
                "spark.python_worker_s"):
        v, u = run.layers[key]
        run.layer(key, v / n_traced, u)


# -- pipeline -----------------------------------------------------------

def _post(port: int, path: str, body: dict | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        payload = json.dumps(body or {}).encode()
        conn.request("POST", path, body=payload, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


def pipeline(run: Run) -> None:
    from bigdata_lab4_spark.ml import SentimentPipeline
    from bigdata_lab4_spark.registry import REGISTRY
    from bigdata_lab4_spark.serving import SentimentAPI
    from bigdata_lab4_spark.streaming import (
        dedup_events_stream,
        read_events_stream,
        run_available_now,
        sessionize_stream,
        tumbling_event_counts,
    )

    state: dict = {}

    def setup(i: int):
        run.start_session()
        base = os.path.join(run.work, f"setup{i}")
        t0 = time.perf_counter()
        rows = gen.tweet_corpus(CORPUS_ROWS, run.seed)
        os.makedirs(base, exist_ok=True)
        corpus_path = os.path.join(base, "tweets.parquet")
        pq.write_table(
            pa.table({name: [r[i] for r in rows] for i, name in enumerate(("id", "label", "text"))}),
            corpus_path,
        )
        replay_root = os.path.join(base, "replay")
        replay = gen.write_stream_replay(
            os.path.join(replay_root, "events.parquet"), STREAM_EVENTS, run.seed, STREAM_FILES
        )
        gen_s = time.perf_counter() - t0
        corpus = run.spark.read.parquet(corpus_path)
        corpus.count()
        state.update(rows=rows, corpus=corpus, replay=replay, replay_root=replay_root, base=base)
        return gen_s

    for i in range(SETUP_CYCLES):
        run.timed_setup(lambda: setup(i))
    run.metric("setup_s", median(run.setup_samples), "s", len(run.setup_samples))

    spark = run.spark
    rows, corpus, base = state["rows"], state["corpus"], state["base"]
    train = corpus.filter("id % 5 != 0")
    test = corpus.filter("id % 5 = 0")
    test_ids = [r for r in rows if r[0] % 5 == 0]
    bayes = sum(1 for r in test_ids if not r[3]) / len(test_ids)
    messages = gen.served_messages(400, run.seed)
    progress = ProgressLog()
    if run.tracer is not None:
        spark.streams.addListener(progress)

    # warm-up: a small fit and score and one audit round trip
    tracing = run.tracer is not None
    if tracing:
        run.tracer.enabled = False
    t0 = time.perf_counter()
    small = corpus.limit(1_000)
    warm = SentimentPipeline().fit(small)
    warm.transform(small).write.format("noop").mode("overwrite").save()
    warm_api = SentimentAPI(spark, warm, predictions_path=os.path.join(base, "warm_store"))
    warm_api.predict(messages[0])
    warm_api.predictions(PREDICTIONS_LIMIT)
    run.notes.append(f"pipeline warmup_s = {time.perf_counter() - t0:.4g} s")
    if tracing:
        run.tracer.enabled = True

    groups: list[str] = []
    ops: dict[str, list[float]] = defaultdict(list)
    steal0 = host.cpu_totals()
    phase0 = time.perf_counter()

    # 1. train
    t0 = time.perf_counter()
    with run.group("fit") as gid:
        model = SentimentPipeline().fit(train, tfidf_fit_df=corpus)
    ops["fit"].append(time.perf_counter() - t0)
    groups.append(gid)

    # 2. batch score
    t0 = time.perf_counter()
    with run.group("score") as gid, run.span("ml.pipeline.transform"):
        model.transform(corpus).write.format("noop").mode("overwrite").save()
    ops["score"].append(time.perf_counter() - t0)
    groups.append(gid)

    # 3. serve: closed loop, SERVE_CLIENTS clients
    store = os.path.join(base, "predictions")
    api = SentimentAPI(spark, model, predictions_path=store)
    server, thread = api.start_background()
    port = server.server_address[1]
    lock = threading.Lock()
    acked: list[str] = []  # messages of acknowledged /predict, in order
    predicts = started = 0
    records: list[tuple] = []  # (kind, seconds, status, traced, message, acked_before, body)
    stop_at = time.perf_counter() + run.seconds
    toggling = threading.Event()

    def toggle():
        # traced runs alternate spans on and off each second, so the
        # same loop gives traced and untraced latencies
        while not toggling.wait(1.0):
            run.tracer.enabled = not run.tracer.enabled

    def client():
        nonlocal predicts, started
        while True:
            with lock:
                if time.perf_counter() >= stop_at and predicts >= MIN_PREDICTS:
                    return
                acked_before = len(acked)
                k = started
                started += 1
            traced = run.tracer.enabled if tracing else False
            listing = k % 10 == 9  # 9 /predict for every /predictions
            msg = messages[k % len(messages)]
            t = time.perf_counter()
            try:
                if listing:
                    status, body = _post(port, f"/predictions/?limit={PREDICTIONS_LIMIT}")
                else:
                    status, body = _post(port, "/predict/", {"message": msg})
            except OSError as exc:
                status, body = 0, str(exc)
            dt = time.perf_counter() - t
            with lock:
                predicts += not listing
                if not listing and status == 200:
                    acked.append(msg)
                records.append(("predictions" if listing else "predict", dt, status, traced,
                                msg, acked_before, body))

    ungrouped0 = set(run.counters.job_ids(None))
    serve0 = time.perf_counter()
    toggler = threading.Thread(target=toggle) if tracing else None
    if toggler:
        toggler.start()
    clients = [threading.Thread(target=client) for _ in range(SERVE_CLIENTS)]
    for t in clients:
        t.start()
    for t in clients:
        t.join()
    serve_wall = time.perf_counter() - serve0
    if toggler:
        toggling.set()
        toggler.join()
        run.tracer.enabled = True
    server.shutdown()
    server.server_close()
    thread.join(timeout=30)
    # serving jobs run on server threads, outside any job group
    serve_jobs = sorted(set(run.counters.job_ids(None)) - ungrouped0)

    # 4. drain the replay through each streaming operator
    drains = {
        "tumbling": lambda s: tumbling_event_counts(s, watermark=WATERMARK),
        "dedup": lambda s: dedup_events_stream(s, watermark=WATERMARK),
        "sessionize": lambda s: sessionize_stream(
            s.withWatermark("ts", WATERMARK), gap=f"{SESSION_GAP_S // 60} minutes"
        ),
    }
    src = os.path.join(state["replay_root"], "events.parquet")
    for op, build in drains.items():
        progress.current = op
        t0 = time.perf_counter()
        with run.span(f"streaming.{op}.drain"):
            stream = read_events_stream(spark, src, max_files_per_trigger=1)
            run_available_now(
                build(stream), os.path.join(base, f"out_{op}"), os.path.join(base, f"cp_{op}")
            )
        ops[f"drain_{op}"].append(time.perf_counter() - t0)
    phase_wall = time.perf_counter() - phase0
    steal = host.steal_frac(steal0, host.cpu_totals())

    # -- end-to-end metrics --
    predict = [r for r in records if r[0] == "predict"]
    listing = [r for r in records if r[0] == "predictions"]
    ops["predict"] = [r[1] for r in predict]
    ops["predictions"] = [r[1] for r in listing]
    run.attempted += len(records) + 2 + len(drains)
    run.metric("op_geomean_ms", geomean(median(v) for v in ops.values()) * 1e3, "ms",
               sum(len(v) for v in ops.values()))
    _loop_metrics(run, [r[1] for r in records], [(len(records), serve_wall, serve_jobs)])
    _peak_rss(run)
    ps, ls = summarize(ops["predict"]), summarize(ops["predictions"])
    run.notes += [
        f"pipeline train_s = {ops['fit'][0]:.6g} s  (n=1)",
        f"pipeline score_rows_per_s = {CORPUS_ROWS / ops['score'][0]:.6g} rows/s  (n=1)",
        f"pipeline predict_p50_ms = {ps['p50'] * 1e3:.6g} ms  (n={ps['n']})",
        f"pipeline predict_p{ps['tail_pct']}_ms = "
        + (f"{ps['tail'] * 1e3:.6g} ms" if ps["tail"] is not None else "n/a")
        + f"  (n={ps['n']}; the highest percentile with 10 samples beyond it)",
        f"pipeline predictions_p50_ms = "
        + (f"{ls['p50'] * 1e3:.6g} ms" if ls["n"] else "n/a") + f"  (n={ls['n']})",
        f"pipeline serve_ops_per_s = {len(records) / serve_wall:.6g} 1/s  (n={len(records)})",
        f"pipeline drain_s = {sum(ops[f'drain_{op}'][0] for op in drains):.6g} s  "
        f"(tumbling {ops['drain_tumbling'][0]:.4g}, dedup {ops['drain_dedup'][0]:.4g}, "
        f"sessionize {ops['drain_sessionize'][0]:.4g})",
        f"host cores = {run.cores}; host.steal_frac = {steal:.4g}",
    ]

    # -- output checks (outside the timed region) --
    if tracing:
        run.tracer.enabled = False
    non_2xx = [r for r in records if not 200 <= r[2] < 300]
    run.fail(len(non_2xx), [f"{r[0]}: HTTP {r[2]}" for r in non_2xx[:5]])
    ok_predict = [r for r in predict if r[2] == 200]
    bad = checks.predict_replies(model, [(r[4], r[6]["sentiment"]) for r in ok_predict])
    run.fail(len(bad), bad)
    stored = [r["message"] for r in spark.read.parquet(store).select("message").collect()]
    bad = checks.predictions_replies(
        [(acked[:r[5]], r[6]["predictions"]) for r in listing if r[2] == 200],
        set(stored),
        PREDICTIONS_LIMIT,
    )
    run.fail(len(bad), bad)
    run.fail(1, checks.accuracy(model.evaluate(test), bayes))
    files = [n for n in os.listdir(store) if n.endswith(".parquet")]
    # serving swallows audit-insert errors, so a lost row shows only here;
    # each acknowledged /predict without its row is a failed operation
    lost = checks.lost_rows(acked, stored)
    run.fail(lost, [f"serving: {lost} of {len(acked)} acknowledged /predict rows missing "
                    f"from the store ({len(stored)} rows stored)"] if lost else [])
    run.notes.append(f"pipeline serving.audit_lost = {lost}  (n={len(acked)})")
    run.fail(1, _check_stream(spark, base, state, REGISTRY))

    if not tracing:
        return
    spans = run.layer_spans()
    on = [r[1] for r in predict if r[3]]
    off = [r[1] for r in predict if not r[3]]
    _overhead(run, on, off)
    run.layer("host.steal_frac", steal, "fraction")

    def med_ms(name):
        s = spans.get(name)
        return median(s["self"]) * 1e3 if s else float("nan")  # nan: no traced call

    tf = spans.get("ml.tfidf.fit", {"total_s": 0.0})
    run.layer("session.get_spark_s", spans["session.get_spark"]["total_s"], "s")
    run.layer("ml.tfidf.fit_s", tf["total_s"], "s")
    run.layer("ml.pipeline.fit_self_s", spans["ml.pipeline.fit"]["self_s"], "s")
    run.layer("ml.pipeline.transform_s", spans["ml.pipeline.transform"]["total_s"], "s")
    run.layer("ml.pipeline.predict_one_us", med_ms("ml.pipeline.predict_one") * 1e3, "us")
    ins = [s["end"] - s["start"] for s in run.tracer.finished() if s["name"] == "engine.insert_prediction"]
    run.layer("engine.insert_prediction_ms", median(ins) * 1e3 if ins else 0.0, "ms")
    run.layer("engine.create_predictions_table_ms", med_ms("engine.create_predictions_table"), "ms")
    run.layer("engine.top_k_predictions_ms", med_ms("engine.top_k_predictions"), "ms")
    run.layer("engine.files_per_insert", len(files) / max(1, len(stored)), "ratio")
    run.layer("serving.predict_self_ms", med_ms("serving.predict"), "ms")
    run.layer("serving.predictions_self_ms", med_ms("serving.predictions"), "ms")
    handler = [s["end"] - s["start"] for s in run.tracer.finished() if s["name"] == "serving.predict"]
    run.layer("serving.http_ms", (median(on) - median(handler)) * 1e3 if on and handler else 0.0, "ms")
    run.layer("serving.non_2xx", len(non_2xx), "count")
    run.layer("serving.audit_lost", lost, "count")
    for op in drains:
        ev = progress.events.get(op, [])
        dur = [e["duration_ms"] for e in ev]
        run.layer(f"streaming.{op}.drain_s", ops[f"drain_{op}"][0], "s")
        run.layer(f"streaming.{op}.batches", len(ev), "count")
        run.layer(f"streaming.{op}.batch_p50_ms",
                  median([d.get("triggerExecution", 0) for d in dur]) if dur else 0.0, "ms")
        run.layer(f"streaming.{op}.commit_ms",
                  sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur), "ms")
        run.layer(f"streaming.{op}.add_batch_ms", sum(d.get("addBatch", 0) for d in dur), "ms")
        run.layer(f"streaming.{op}.state_rows_max", max((e["state_rows"] for e in ev), default=0), "count")
    stream_jobs = [run.counters.job_ids(r) for r in {e["run_id"] for ev in progress.events.values() for e in ev}]
    run.finish_layers(
        [run.counters.job_ids(g) for g in groups] + [serve_jobs] + stream_jobs, phase_wall
    )


def _check_stream(spark, base, state, registry) -> list[str]:
    """Tumbling equals its batch twin on the closed windows; dedup keeps
    one row per event_id; sessions match a sort-and-scan reference."""
    replay = state["replay"].to_pandas()
    out = []
    max_us = int(state["replay"].column("ts").cast("int64").to_numpy().max())
    # Spark's final watermark: max event time (ms) minus the delay
    wm_s = (max_us // 1000 - WATERMARK_S * 1000) / 1000.0

    got = {
        (r["window_start"], r["event_type"]): r
        for r in spark.read.parquet(os.path.join(base, "out_tumbling")).collect()
    }
    twin = registry["t01_tumbling_window"].fn(spark, state["replay_root"]).collect()
    want = {(r["window_start"], r["event_type"]): r for r in twin if r["window_start"] + 3600 <= wm_s}
    if set(got) != set(want):
        out.append(f"tumbling: {len(got)} windows emitted, {len(want)} closed in the batch twin")
    else:
        for k, w in want.items():
            g = got[k]
            if g["n"] != w["n"] or abs(g["sum_value"] - w["sum_value"]) > 0.011 \
                    or abs(g["avg_value"] - w["avg_value"]) > 1e-3:
                out.append(f"tumbling: window {k} {tuple(g)} != batch {tuple(w)}")
                break

    dedup_rows = spark.read.parquet(os.path.join(base, "out_dedup")).count()
    distinct = replay["event_id"].nunique()
    if dedup_rows != distinct:
        out.append(f"dedup: {dedup_rows} rows out, {distinct} distinct event_id")

    sess = spark.read.parquet(os.path.join(base, "out_sessionize")).toPandas()
    epoch_s = state["replay"].column("ts").cast("int64").to_numpy() // 10**6
    want_n, want_events = checks.closed_sessions(
        replay["user_id"].to_numpy(), epoch_s, SESSION_GAP_S, wm_s
    )
    if len(sess) != want_n or int(sess["n_events"].sum()) != want_events:
        out.append(
            f"sessionize: {len(sess)} sessions / {int(sess['n_events'].sum())} events, "
            f"reference {want_n} / {want_events}"
        )
    return out


WORKLOADS = {"queries": queries, "pipeline": pipeline}
