"""The benchmark's workloads. Each runs closed-loop from one client and
returns a ``Result``: end-to-end metrics (measured untraced), per-layer
metrics (traced mode only), operation counts and the output checks.

- ocr_tensor: ``ocr_image_text`` in this process, no Spark, with the
  stand-in models forced onto the normalized-tensor path a real ONNX
  session needs. One image in ten is heavy, so the tail sits inside
  the heavy mode.
- extract_commit: the production job shape, ``run_extract`` then
  ``write_with_ledger`` into a fresh root, media as ``img://`` refs on
  the raw path (the program's default).
- extract_bytes_skewed: ``run_extract_from_spans`` with a ``collect``
  sink over rows carrying inline image bytes, one item in eight heavy,
  so pixels cross the balance exchange and the Arrow boundary and
  per-item cost is skewed. No writes.

The query battery (the SQL operator layer, no OCR) is measured only in
the traced run of extract_bytes_skewed, as per-layer figures: run as a
workload of its own, its queries' times spread by a third from seed to
seed on a shared 4-core VM.

Set-up is timed once per run, cold: for the Spark workloads it covers
the JVM launch, the session, the Python workers' warm-up and the inputs.
A traced run first measures untraced, exactly as an untraced run does.
On Spark it then moves to a second session in the same JVM with the
event log on, and alternates operations without and with the timing
wrappers, so each tracing source's overhead is measured on its own.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

import pyarrow.parquet as pq

from perfbench import inputs, tracing
from perfbench.eventlog import parse, stage_balance, task_totals

# Sizes: large enough that one run measures several operations, small
# enough that a whole run (set-up, warm-up operations, the measurement,
# checks) stays near a minute at local[4]. extract_commit's ledger
# commit runs many small jobs at a fixed cost, so its input is the
# largest: the OCR stage then takes most of an operation.
OCR_IMAGES = 200
COMMIT_MEDIA = 1600
SKEWED_MEDIA = 600
RAW_SAMPLE = 150
# operations per tracing source in a traced Spark run
TRACE_OPS = 2

# The query battery's headline queries (the 37 of bench.py without
# ocr_extract, which extract_commit covers), frozen here. The battery
# pass times BATTERY_TIMED, one query per operator family: running all
# of them, with a cold pass first, costs over a minute. The oracle check
# runs on a seeded sample of BATTERY_CHECKED of them.
BATTERY_QUERIES = (
    "ocr_text_passthrough", "explode_tokens", "restitch_docs", "ctc_dedupe_analog",
    "q1_pricing_summary", "q3_top_orders", "dedup_exact", "dedup_minhash_sig",
    "dedup_minhash_lsh_pairs", "dedup_cluster_keepers", "dedup_simhash",
    "ngram_jaccard_pairs", "dedup_embedding_cosine", "dedup_embedding_cosine_bucketed",
    "dedup_semantic_keepers", "embedding_cosine_topk", "pdf_pages_text",
    "html_main_content", "quality_score", "token_count", "chunk_documents", "pii_scrub",
    "dedup_incremental", "dedup_incremental_online", "semdedup_two_level_cells",
    "semdedup_two_level_pairs", "semantic_incremental", "corpus_final",
    "event_asof_attribution", "event_range_join", "pack_sequences", "phrase_search",
    "bloom_ngram_decontaminate", "hll_distinct_tokens", "doc_length_percentiles",
    "corpus_diff", "dup_graph_triangles",
)
BATTERY_TIMED = (
    "q1_pricing_summary",       # scan + aggregate
    "explode_tokens",           # generators
    "dedup_exact",              # hash aggregate
    "dedup_minhash_lsh_pairs",  # minhash signatures, band join
    "dedup_embedding_cosine",   # blocked GEMM pairs
    "pii_scrub",                # regex rewrite
    "event_asof_attribution",   # as-of join over the event stream
    "hll_distinct_tokens",      # sketches
)
BATTERY_CHECKED = 5
# untimed operations (rounds of queries in the battery pass) before the
# timed ones on Spark: the first compiles the job's code, the second still
# ran 10-25% slower than later ones while the JVM warmed up
WARM_OPS = 2
# extract_commit runs about ten jobs per operation, and its operations
# kept getting faster, by up to a quarter, over the first eight or so.
# Its untimed ones run on the first quarter of the docs: the jobs, which
# the JVM has to warm up to, are the same at a fraction of the cost.
COMMIT_WARM_OPS = 8


@dataclass
class Result:
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    sizes: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


def _percentile(xs, q):
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q / 100 * len(xs)) - 1)]


def _wall(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def _overheads(res: Result, untraced, log_only, traced) -> None:
    """Tracing overhead per source, as shares of the untraced median. The
    untraced operations run right before the traced ones, because a JVM
    still speeds up long after the timed loop's warm-up."""
    base = median(untraced)
    res.layers["trace.eventlog_overhead_share"] = median(log_only) / base - 1.0
    res.layers["trace.overhead_share"] = median(traced) / base - 1.0
    res.extra.update(untraced_walls_s=list(untraced), eventlog_walls_s=list(log_only),
                     traced_walls_s=list(traced))


# ------------------------------------------------------------ OCR layers
def _layer_metrics(rec: tracing.Recorder, layer_spans: dict[str, str],
                   prefix: str = "") -> dict[str, float]:
    """Self time of the given OCR layers and of the media layers, plus
    the wall of the ``ocr_image_text`` calls they add up to."""
    self_s = rec.self_times()
    out = {prefix + metric: self_s.get(span, 0.0) for metric, span in layer_spans.items()}
    out[prefix + "ocr.textsystem.wall_s"] = rec.total("ocr.textsystem")
    out["operators.media.resolve_s"] = self_s.get("operators.media.resolve", 0.0)
    out["imagecodec.decode_s"] = self_s.get("imagecodec.decode", 0.0)
    return out


def _check_texts(got, expected, mismatches, label):
    for k, (g, e) in enumerate(zip(got, expected)):
        if g != e:
            mismatches.append(f"{label}[{k}]: {g!r} != {e!r}")


def _one_process_pass(items, prefix: str, mismatches):
    """Raw-path OCR of a media sample in this process, every OCR layer
    and the media resolver traced. items: [(ref, bytes or None, text)]."""
    from onnxocr_spark.ocr import textsystem
    from onnxocr_spark.operators import media

    rec = tracing.Recorder(prefix)
    got = []
    with rec.install(tracing.ocr_wrappers() + tracing.media_wrappers()):
        for ref, blob, _ in items:
            got.append(textsystem.ocr_image_text(media.resolve_media(ref, blob)))
    _check_texts(got, [text for _, _, text in items], mismatches, prefix + "sample")
    return _layer_metrics(rec, tracing.RAW_LAYER_SPANS, prefix)


# ------------------------------------------------------------ ocr_tensor
def _force_tensor_path():
    """The stand-ins' ``run_raw`` shortcut skips resize/normalize; a real
    ONNX session has no such path. Same class-attribute switch the
    program's own path-agreement test flips. Creates the model sessions."""
    from onnxocr_spark.models import sessions

    for name in ("det_stub", "cls_stub", "rec_stub"):
        sessions.get_session(name).__class__.supports_raw = False


def ocr_tensor(seed: int, seconds: float, traced: bool, ctx) -> Result:
    res = Result()
    t0 = time.perf_counter()
    from onnxocr_spark.ocr import textsystem

    _force_tensor_path()
    images, expected, res.sizes = inputs.ocr_images(seed, OCR_IMAGES)
    textsystem.ocr_image_text(images[0])
    res.metrics["setup_s"] = time.perf_counter() - t0
    warm = [textsystem.ocr_image_text(img) for img in images]
    _check_texts(warm, expected, res.mismatches, "ocr_tensor warm-up")

    lat, got = [], []
    t_start = time.perf_counter()
    while True:
        for img in images:
            t0 = time.perf_counter()
            try:
                got.append(textsystem.ocr_image_text(img))
            except Exception as exc:  # noqa: BLE001 - one image fails, not the run
                got.append(f"{type(exc).__name__}: {exc}")
                res.failed += 1
            lat.append(time.perf_counter() - t0)
        if time.perf_counter() - t_start >= seconds:
            break
    wall = time.perf_counter() - t_start
    ctx.stop_rss()
    res.metrics["items_per_s"] = len(lat) / wall
    res.metrics["op_p50_ms"] = median(lat) * 1e3
    res.attempted = len(warm) + len(lat)
    res.extra = {"images_timed": len(lat), "p99_ms": _percentile(lat, 99) * 1e3}
    _check_texts(got, expected * (len(got) // len(expected)), res.mismatches,
                 "ocr_tensor")

    if traced:
        rec = tracing.Recorder("ocr_tensor")
        t0 = time.perf_counter()
        with rec.install(tracing.ocr_wrappers()):
            traced_got = [textsystem.ocr_image_text(img) for img in images]
        traced_wall = time.perf_counter() - t0
        _check_texts(traced_got, expected, res.mismatches, "ocr_tensor traced")
        res.attempted += len(images)
        res.layers.update(_layer_metrics(rec, tracing.OCR_LAYER_SPANS))
        res.layers.update({c: float(rec.counts[c]) for c in tracing.OCR_COUNTS})
        res.layers["ocr.image_p99_ms"] = res.extra["p99_ms"]
        # no event log here: the wrappers are the only tracing source
        per_image = wall / len(lat)
        _overheads(res, [per_image], [per_image], [traced_wall / len(images)])
        rec.dump(ctx.path("spans.jsonl"))
    return res


# ------------------------------------------------------------ Spark side
def _session(ctx, eventlog: bool = False):
    """A session at local[slots]. The first one launches the JVM; later
    ones reuse it and take the event-log settings as JVM system
    properties, which every new SparkConf reads."""
    from pyspark import SparkContext

    from onnxocr_spark.pipeline import build_session

    if SparkContext._jvm is not None:
        system = SparkContext._jvm.java.lang.System
        for k, v in ctx.eventlog_confs().items():
            if eventlog:
                system.setProperty(k, v)
            else:
                system.clearProperty(k)
    elif eventlog:
        raise RuntimeError("the event-log session needs a running JVM")
    return build_session(f"perfbench-{ctx.workload}", master=f"local[{ctx.slots}]",
                         shuffle_partitions=2 * ctx.slots)


def _warm_workers(spark, slots: int) -> None:
    """Start every Python worker and import the OCR stack in it."""

    def warm(batches):
        import numpy as np

        from onnxocr_spark.models.barcode import encode_bar
        from onnxocr_spark.ocr.textsystem import ocr_image_text

        ocr_image_text(np.repeat(encode_bar("warm")[:, :, None], 3, axis=2))
        yield from batches

    spark.range(slots * 4).repartition(slots * 2).mapInPandas(warm, "id long").count()


def _spark_setup(ctx, make_inputs):
    """One cold set-up: launch the JVM and build the session, warm the
    workers, make the inputs. → (session, inputs, seconds)"""
    t0 = time.perf_counter()
    spark = _session(ctx)
    _warm_workers(spark, ctx.slots)
    made = make_inputs(spark)
    took = time.perf_counter() - t0
    ctx.phase("setup")
    return spark, made, took


def _eventlog_session(ctx, spark):
    """Stop the untraced session; → a session with the event log on, in
    the same JVM, its workers warm."""
    spark.stop()
    spark = _session(ctx, eventlog=True)
    _warm_workers(spark, ctx.slots)
    ctx.phase("eventlog_session")
    return spark


def _timed_loop(seconds: float, op):
    """Run op(k) back to back until ``seconds`` have passed (at least
    once); → per-operation walls."""
    walls, t_start, k = [], time.perf_counter(), 0
    while True:
        t0 = time.perf_counter()
        op(k)
        walls.append(time.perf_counter() - t0)
        k += 1
        if time.perf_counter() - t_start >= seconds:
            return walls


def _traced_ops(op, name: str, wrappers):
    """With the event log on: one untimed operation in the new session,
    then TRACE_OPS operations without the wrappers and TRACE_OPS with
    them, alternating. → (event-log-only walls, traced walls, recorder
    of the last traced operation, its span id)"""
    op("ewarm")
    log_only, traced = [], []
    for k in range(TRACE_OPS):
        log_only.append(_wall(op, f"e{k}"))
        rec = tracing.Recorder(name)
        t0 = time.perf_counter()
        with rec.install(wrappers):
            with rec.span(name + ".iteration") as sid:
                op(f"t{k}")
        traced.append(time.perf_counter() - t0)
    return log_only, traced, rec, sid


def _job_table(jobs) -> list[tuple]:
    """(job id, call site, wall ms) of the traced operation's jobs."""
    return [(j.id, j.call_site, j.end_ms - j.submit_ms) for j in jobs]


def _job_layers(log, jobs, slots: int) -> dict[str, float]:
    """OCR-stage balance and exchange totals of the extract jobs."""
    tot = task_totals(log.tasks_of(jobs))
    ocr_tasks = log.tasks_of(jobs, scope="MapInPandas")
    ocr = task_totals(ocr_tasks)
    bal = stage_balance(ocr_tasks, slots)
    return {
        "operators.ocr_media.stage_task_s": ocr["task_s"],
        "operators.ocr_media.stage_cpu_s": ocr["cpu_s"],
        "operators.ocr_media.tasks": float(len(ocr_tasks)),
        "operators.ocr_media.task_max_over_median": bal["task_max_over_median"],
        "operators.ocr_media.slot_idle_share": bal["slot_idle_share"],
        "pipeline.jobs": float(len(jobs)),
        "pipeline.shuffle_write_bytes": float(tot["shuffle_write_bytes"]),
        "pipeline.spill_bytes": float(tot["spill_bytes"]),
        "pipeline.gc_s": tot["gc_s"],
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_")))


def _spans_of(row) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], int(s["offset"])) for s in row["spans"]]


def _check_docs(rows, expected, mismatches, label) -> int:
    """Compare extracted documents with the analytic expectation; →
    number of media spans that came back empty (failed OCR)."""
    got = {r["doc_id"]: _spans_of(r) for r in rows}
    if set(got) != set(expected):
        mismatches.append(f"{label}: doc ids differ "
                          f"({len(set(got) ^ set(expected))} not in both)")
    empty = 0
    for doc_id, spans in got.items():
        empty += sum(1 for s in spans if s[0] == "media" and s[1] == "")
        if doc_id in expected and spans != expected[doc_id]:
            mismatches.append(f"{label}: {doc_id} spans differ")
    return empty


def extract_commit(seed: int, seconds: float, traced: bool, ctx) -> Result:
    from onnxocr_spark import pipeline
    from onnxocr_spark.sinks import ledger

    res = Result()
    docs_path, warm_path = ctx.path("docs.parquet"), ctx.path("warm_docs.parquet")

    def make(spark):
        expected, media, sizes = inputs.commit_docs(seed, COMMIT_MEDIA, docs_path)
        head = pq.read_table(docs_path)
        head = head.slice(0, head.num_rows // 4)
        pq.write_table(head, warm_path)
        warm_expected = {d: expected[d] for d in head.column("doc_id").to_pylist()}
        return (spark.read.parquet(docs_path), spark.read.parquet(warm_path),
                expected, warm_expected, media, sizes)

    spark, made, res.metrics["setup_s"] = _spark_setup(ctx, make)
    docs, warm_docs, expected, warm_expected, media, res.sizes = made
    res.sizes["pixel_bytes"] = inputs.media_pixel_bytes(media)
    outputs = []  # (root, expected docs) of every operation

    def run(source, exp, name):
        root = ctx.path(f"commit_{name}")
        outputs.append((root, exp))
        ledger.write_with_ledger(pipeline.run_extract(source), root, f"r{name}")

    def op(k):
        run(docs, expected, k)

    for k in range(COMMIT_WARM_OPS):  # checked, not timed
        run(warm_docs, warm_expected, f"warm{k}")
    ctx.phase("warm_ops")
    walls = _timed_loop(seconds, op)
    ctx.stop_rss()
    ctx.phase("measure")
    n_media = res.sizes["media"]
    res.metrics["items_per_s"] = n_media / median(walls)
    res.metrics["op_p50_ms"] = median(walls) * 1e3
    res.extra["op_walls_s"] = walls

    if traced:
        baseline = [_wall(op, f"b{k}") for k in range(TRACE_OPS)]
        spark = _eventlog_session(ctx, spark)
        docs = spark.read.parquet(docs_path)
        log_only, traced_walls, rec, it = _traced_ops(
            op, "extract_commit",
            [(pipeline, "run_extract", "pipeline.run_extract"),
             (ledger, "write_with_ledger", "sinks.ledger.write_with_ledger")])
        _overheads(res, baseline, log_only, traced_walls)
        root, run_id = outputs[-1][0], f"rt{TRACE_OPS - 1}"  # the last traced operation's
        app_id = spark.sparkContext.applicationId
        ctx.phase("traced_ops")
        sample = [(ref, None, text) for ref, _, text in
                  random.Random(seed).sample(media, RAW_SAMPLE)]
        res.layers.update(_one_process_pass(sample, "ocr_raw.", res.mismatches))

    for k, (out_root, exp) in enumerate(outputs):
        rows = ledger.read_output(spark, out_root).collect()
        res.failed += _check_docs(rows, exp, res.mismatches, f"commit_{k}")
        ids = {r["doc_id"] for r in ledger.committed_doc_ids(spark, out_root).collect()}
        if ids != set(exp):
            res.mismatches.append(f"commit_{k}: ledger ids differ from input ids")
        res.attempted += sum(s[0] == "media" for spans in exp.values() for s in spans)
    ctx.phase("checks")
    spark.stop()

    if traced:
        log = parse(ctx.eventlog(app_id))
        _, _, _, it_start, it_end = rec.spans[it]
        w_end = rec.find("sinks.ledger.write_with_ledger")[0][4]
        data_dir = os.path.join(root, "data", f"run={run_id}")
        success_ms = os.stat(os.path.join(data_dir, "_SUCCESS")).st_mtime_ns / 1e6
        jobs = log.jobs_between(it_start / 1e6, it_end / 1e6)
        data_jobs = [j for j in jobs if j.submit_ms <= success_ms]
        ledger_jobs = [j for j in jobs if j.submit_ms > success_ms]
        res.layers.update(_job_layers(log, data_jobs, ctx.slots))
        res.extra["traced_jobs"] = _job_table(jobs)
        written = task_totals(log.tasks_of(jobs))["bytes_written"]
        res.layers.update({
            "sinks.ledger.jobs": float(len(ledger_jobs)),
            "sinks.ledger.post_write_s": (w_end / 1e6 - success_ms) / 1e3,
            "sinks.ledger.rows_reread": float(
                task_totals(log.tasks_of(ledger_jobs))["records_read"]),
            "sinks.ledger.bytes_written_per_output_byte": written / _dir_bytes(data_dir),
        })
        rec.dump(ctx.path("spans.jsonl"))
    for out_root, _ in outputs:
        shutil.rmtree(out_root, ignore_errors=True)
    return res


def extract_bytes_skewed(seed: int, seconds: float, traced: bool, ctx) -> Result:
    from onnxocr_spark import pipeline

    res = Result()
    rows_path = ctx.path("span_rows.parquet")

    def make(spark):
        expected, sample, sizes = inputs.skewed_span_rows(
            seed, SKEWED_MEDIA, rows_path, RAW_SAMPLE)
        return spark.read.parquet(rows_path), expected, sample, sizes

    spark, (rows, expected, sample, res.sizes), res.metrics["setup_s"] = (
        _spark_setup(ctx, make))
    outputs = []

    def op(_k):
        outputs.append(pipeline.run_extract_from_spans(rows).collect())

    for k in range(WARM_OPS):  # checked, not timed
        op(f"warm{k}")
    ctx.phase("warm_ops")
    walls = _timed_loop(seconds, op)
    ctx.stop_rss()
    ctx.phase("measure")
    n_media = res.sizes["media"]
    res.metrics["items_per_s"] = n_media / median(walls)
    res.metrics["op_p50_ms"] = median(walls) * 1e3
    res.extra["op_walls_s"] = walls

    if traced:
        baseline = [_wall(op, f"b{k}") for k in range(TRACE_OPS)]
        spark = _eventlog_session(ctx, spark)
        rows = spark.read.parquet(rows_path)
        log_only, traced_walls, rec, it = _traced_ops(
            op, "extract_bytes_skewed",
            [(pipeline, "run_extract_from_spans", "pipeline.run_extract_from_spans")])
        _overheads(res, baseline, log_only, traced_walls)
        app_id = spark.sparkContext.applicationId
        ctx.phase("traced_ops")
        res.layers.update(_one_process_pass(sample, "ocr_raw.", res.mismatches))
        battery_rec = _battery_pass(spark, ctx, seed, res)
    spark.stop()

    for k, out in enumerate(outputs):
        res.failed += _check_docs(out, expected, res.mismatches, f"collect_{k}")
    res.attempted += n_media * len(outputs)

    if traced:
        log = parse(ctx.eventlog(app_id))
        _, _, _, it_start, it_end = rec.spans[it]
        jobs = log.jobs_between(it_start / 1e6, it_end / 1e6)
        res.layers.update(_job_layers(log, jobs, ctx.slots))
        res.extra["traced_jobs"] = _job_table(jobs)
        _battery_jobs(log, battery_rec, res)
        rec.dump(ctx.path("spans.jsonl"))
        battery_rec.dump(ctx.path("battery_spans.jsonl"))
    return res


# ------------------------------------------------------------ battery
def _check_battery(spark, queries, tables: str, names, mismatches) -> int:
    """Each query's result against its DuckDB oracle over the same
    tables, both normalized as the program's own oracle check does. →
    number of queries that raised."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracles import _normalize

    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t)}.parquet')")
    oracles, errors = entry.oracle_sql(), 0
    for name in names:
        try:
            got = _normalize(queries[name](spark, tables).toPandas())
        except Exception as exc:  # noqa: BLE001 - one query fails, not the run
            mismatches.append(f"battery {name}: {type(exc).__name__}: {exc}"[:300])
            errors += 1
            continue
        want = _normalize(con.execute(oracles[name]).fetchdf())
        if list(got.columns) != list(want.columns) or len(got) != len(want) \
                or not got.equals(want):
            mismatches.append(f"battery {name}: {len(got)} rows differ from the oracle's "
                              f"{len(want)}")
    con.close()
    return errors


def _battery_pass(spark, ctx, seed: int, res: Result):
    """The query battery's layer, in a traced Spark session: seeded
    tables; WARM_OPS untimed rounds; TRACE_OPS timed rounds, whose
    per-query medians are ``battery.<query>.s``; one round with a span
    per query, whose jobs the event log gives later; one round under
    ``count()``; the oracle check of a seeded sample. → the recorder of
    the span round"""
    import __spark_entry__ as entry

    tables = ctx.path("tables")
    res.extra["battery_tables"] = inputs.battery_tables(seed, tables)
    queries = entry.queries()
    order = list(BATTERY_TIMED)
    random.Random(f"{seed}/battery").shuffle(order)
    res.extra["battery_order"] = order

    def one_round(rec=None, sink="noop"):
        """Every query once, in the seeded order; → {query: wall}."""
        walls = {}
        for name in order:
            t0 = time.perf_counter()
            with rec.span("battery." + name) if rec else contextlib.nullcontext():
                df = queries[name](spark, tables)
                if sink == "count":
                    df.count()
                else:
                    df.write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - t0
        return walls

    for _ in range(WARM_OPS):
        one_round()
    rounds = [one_round() for _ in range(TRACE_OPS)]
    per_query = {n: median(r[n] for r in rounds) for n in order}
    res.layers.update({f"battery.{n}.s": v for n, v in per_query.items()})
    res.layers["battery.total_s"] = sum(per_query.values())
    res.layers["battery.geomean_s"] = math.exp(
        sum(math.log(v) for v in per_query.values()) / len(order))
    rec = tracing.Recorder("battery")
    one_round(rec)
    res.layers["battery.count_total_s"] = sum(one_round(sink="count").values())
    res.extra["battery_rounds"] = rounds
    checked = random.Random(f"{seed}/checked").sample(order, min(BATTERY_CHECKED, len(order)))
    res.extra["battery_checked"] = checked
    res.failed += _check_battery(spark, queries, tables, checked, res.mismatches)
    res.attempted += len(order) * (WARM_OPS + TRACE_OPS + 2) + len(checked)
    ctx.phase("battery")
    return rec


def _battery_jobs(log, rec: tracing.Recorder, res: Result) -> None:
    """Jobs per query of the span round, and their task totals."""
    all_jobs = []
    for _, _, name, start, end in rec.spans:
        jobs = log.jobs_between(start / 1e6, end / 1e6)
        res.layers[name + ".jobs"] = float(len(jobs))
        all_jobs += jobs
    tot = task_totals(log.tasks_of(all_jobs))
    res.layers.update({
        "battery.task_cpu_s": tot["cpu_s"],
        "battery.shuffle_write_bytes": float(tot["shuffle_write_bytes"]),
        "battery.spill_bytes": float(tot["spill_bytes"]),
        "battery.gc_s": tot["gc_s"],
    })
    res.extra["battery_jobs"] = _job_table(all_jobs)


WORKLOADS = {
    "ocr_tensor": ocr_tensor,
    "extract_commit": extract_commit,
    "extract_bytes_skewed": extract_bytes_skewed,
}
SPARK_WORKLOADS = {"extract_commit", "extract_bytes_skewed"}
