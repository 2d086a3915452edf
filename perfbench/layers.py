"""Per-layer metrics of a traced run (``run.py --trace 1``).

Every layer is timed from outside, by calls into its public functions:

* ``sources``    -- a noop-sink scan of the materialized input table;
* ``kernel``     -- single-process calls into ``smart_ocr_spark.kernel``
  over a seeded payload sample of the workload, per fixture class;
* ``operators``  -- ``fused_first_pass``, ``fused_repair_round`` and
  ``with_selection`` composed as ``run_extraction`` composes them, each
  forced on its own with a noop sink;
* ``pipeline``, ``checkpoint``, ``dedup``, ``components`` -- Spark's
  event log, attributed to the public call by the job description the
  benchmark sets around it (one span per call).

The traced process first runs the operation twice untraced, then
restarts its SparkContext with the event log on and runs it twice
more, the second time with a job description around each public call.
The second traced ``run_s`` minus the second untraced one is the tracing
overhead.  Spans are kept
in memory and written to ``.perfbench/traces/<workload>-seed<n>.json``
at the end.  Metrics of a layer the workload does not run are 0.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import time
from collections import defaultdict

from smart_ocr_spark.sources.corpus import CLASSES

KERNEL_CLASSES = [name for name, _ in CLASSES]
KERNEL = [
    "kernel.extract_full_us_per_doc",
    "kernel.html_extract_us_per_kb",
    "kernel.pdf_extract_us_per_page",
    "kernel.extract_variant_us_per_call",
    "kernel.assess_us_per_doc",
    "kernel.audit_us_per_doc",
    "kernel.select_us_per_row",
    "kernel.levenshtein_us_per_pair",
] + [
    f"kernel.{m}_us_per_doc.{c}"
    for m in ("extract_full", "audit")
    for c in KERNEL_CLASSES
]
OPERATORS = [
    "operators.first_pass_s",
    "operators.repair_round_s",
    "operators.selection_s",
    "pipeline.repair_rows_round1",
    "pipeline.repair_rows_round2",
    "pipeline.repair_yield",
]
PIPELINE = [
    "pipeline.jobs",
    "pipeline.stages",
    "pipeline.executor_run_s",
    "pipeline.python_worker_s",
    "pipeline.python_init_s",
    "pipeline.bytes_to_python_mb",
    "pipeline.shuffle_write_mb",
    "pipeline.spill_mb",
    "pipeline.gc_s",
    "pipeline.task_skew",
    "pipeline.cached_frames_left",
]
CHECKPOINT = [
    "checkpoint.fingerprint_s",
    "checkpoint.write_s",
    "checkpoint.results_mb_written",
    "checkpoint.pending_buckets",
    "checkpoint.skipped_bucket_share",
    "checkpoint.resume_s",
]
FUNCTIONS = [
    "dedup.minhash_pairs_s",
    "dedup.ngram_pairs_s",
    "dedup.ngram_pair_rows",
    "dedup.ngram_yield",
    "components.canonical_s",
]


class Tracer:
    """Spans (name, start, end, parent) in memory; each span also names
    the Spark jobs started inside it through the job description."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self.sc.setJobDescription(
                self.spans[self._open[-1]]["name"] if self._open else None
            )

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs, completed stages and task durations of one application."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        # accumulables of each completed stage, by name
        self.stages: dict[int, dict[str, float]] = {}
        self.task_ms: dict[int, list[int]] = defaultdict(list)
        for fname in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, fname)) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "desc": (e.get("Properties") or {}).get("spark.job.description"),
                "start": e["Submission Time"],
                "stage_ids": e["Stage IDs"],
                "stage_names": [s["Stage Name"] for s in e.get("Stage Infos", [])],
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            self.stages[si["Stage ID"]] = {
                a["Name"]: float(a["Value"])
                for a in si.get("Accumulables", [])
                if "Value" in a
            }
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            self.task_ms[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])

    def jobs_of(self, desc: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["desc"] == desc]

    def stages_of(self, desc: str) -> list[int]:
        return [
            s for j in self.jobs_of(desc) for s in j["stage_ids"] if s in self.stages
        ]

    def total(self, desc: str, acc: str) -> float:
        return sum(self.stages[s].get(acc, 0.0) for s in self.stages_of(desc))


def pipeline_metrics(log: EventLog, desc: str) -> dict:
    """Stage totals of the extraction call's jobs."""
    stage_ids = log.stages_of(desc)
    mb, s = 1e6, 1e3
    # the parse stage is the one that spends the most time in Python;
    # its slowest task against its median task shows straggler blobs
    parse = max(
        stage_ids,
        key=lambda i: log.stages[i].get("time to run Python workers", 0.0),
        default=None,
    )
    tasks = log.task_ms.get(parse) or [1]
    return {
        "pipeline.jobs": len(log.jobs_of(desc)),
        "pipeline.stages": len(stage_ids),
        "pipeline.executor_run_s": log.total(desc, "internal.metrics.executorRunTime") / s,
        "pipeline.python_worker_s": log.total(desc, "time to run Python workers") / s,
        "pipeline.python_init_s": (
            log.total(desc, "time to initialize Python workers")
            + log.total(desc, "time to start Python workers")
        ) / s,
        "pipeline.bytes_to_python_mb": log.total(desc, "data sent to Python workers") / mb,
        "pipeline.shuffle_write_mb": (
            log.total(desc, "internal.metrics.shuffle.write.bytesWritten") / mb
        ),
        "pipeline.spill_mb": log.total(desc, "internal.metrics.diskBytesSpilled") / mb,
        "pipeline.gc_s": log.total(desc, "internal.metrics.jvmGCTime") / s,
        "pipeline.task_skew": max(tasks) / max(statistics.median(tasks), 1),
    }


# ---------------------------------------------------------------------------
# kernel: single process, outside Spark
# ---------------------------------------------------------------------------


def _clock(fn, *args, **kwargs):
    """(result, median microseconds per call) over at least 3 calls and
    at least 1 ms of calls."""
    times = []
    t_end = time.perf_counter() + 1e-3
    while len(times) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        times.append(time.perf_counter() - t0)
    return out, statistics.median(times) * 1e6


def _call_once(fn, *args, **kwargs):
    return fn(*args, **kwargs), 0.0


def kernel_metrics(sample: list[tuple[str, bytes]], weights: dict[str, int]) -> dict:
    """Microseconds per call of the kernel's public functions over
    ``sample`` ((fixture class, payload) pairs).  Per-document figures
    average the per-class means weighted by the class's share of the
    corpus (``weights``).  An untimed pass over the whole sample comes
    first, so lazy imports and first-use regex compilation are not
    charged to the first class timed."""
    _kernel_pass(sample, _call_once)
    per, html_us, html_kb, pdf_us, pdf_pages = _kernel_pass(sample, _clock)

    def doc_mean(key: str) -> float:
        total = sum(weights[c] for c in per)
        return sum(weights[c] * statistics.fmean(per[c][key]) for c in per) / total

    out = {
        "kernel.extract_full_us_per_doc": doc_mean("extract_full"),
        "kernel.html_extract_us_per_kb": html_us / html_kb if html_kb else 0.0,
        "kernel.pdf_extract_us_per_page": pdf_us / pdf_pages if pdf_pages else 0.0,
        "kernel.extract_variant_us_per_call": doc_mean("variant"),
        "kernel.assess_us_per_doc": doc_mean("assess"),
        "kernel.audit_us_per_doc": doc_mean("audit"),
        "kernel.select_us_per_row": doc_mean("select"),
        "kernel.levenshtein_us_per_pair": doc_mean("lev"),
    }
    for c in KERNEL_CLASSES:
        for key in ("extract_full", "audit"):
            vals = per[c][key] if c in per else []
            out[f"kernel.{key}_us_per_doc.{c}"] = statistics.fmean(vals) if vals else 0.0
    return out


def _kernel_pass(sample, clock):
    """One pass of the kernel calls over ``sample``, each timed by
    ``clock``: per-class call times and the HTML and PDF totals."""
    from smart_ocr_spark.kernel import audit, consensus, score
    from smart_ocr_spark.kernel.assess import assess_page
    from smart_ocr_spark.kernel.extract import (
        extract_payload_full,
        extract_payload_variant,
    )
    from smart_ocr_spark.kernel.html_extract import extract_html
    from smart_ocr_spark.kernel.pdf_extract import extract_pdf, sniff_pdf

    per: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    html_us = html_kb = pdf_us = pdf_pages = 0.0
    for cls, payload in sample:
        calls = per[cls]
        r, us = clock(extract_payload_full, payload)
        calls["extract_full"].append(us)
        if sniff_pdf(payload):
            _, us = clock(extract_pdf, payload, "layout")
            pdf_us, pdf_pages = pdf_us + us, pdf_pages + r["n_pages"]
            variants = ("basic", "density", "raster")
        else:
            _, us = clock(extract_html, payload.decode("utf-8", "replace"), "layout")
            html_us, html_kb = html_us + us, html_kb + len(payload) / 1e3
            variants = ("basic", "density", "layout_alt")
        texts = {"layout": r["layout_text"]}
        for v in variants:
            text, us = clock(extract_payload_variant, payload, v)
            calls["variant"].append(us)
            texts[v] = text or ""
        a, us = clock(
            assess_page,
            r["basic_text"] or "",
            font_count=int(r["font_count"]),
            has_images=bool(r["has_figures"]),
            has_tables=bool(r["has_tables"]),
            has_equations=bool(r["has_equations"]),
        )
        calls["assess"].append(us)
        attempts = []
        for v, text in texts.items():
            au, us = clock(audit.check, text, expected_pages=r["n_pages"])
            if v == "layout":
                calls["audit"].append(us)
            attempts.append({
                "variant": v,
                "text": text,
                "status": "ok",
                "audit_passed": au["audit_passed"],
                "word_count": au["word_count"],
                "confidence": 1.0 - au["failure_confidence"],
            })
        native = r["layout_text"] if a["is_born_digital"] else ""
        _, us = clock(consensus.select_best, attempts, native)
        calls["select"].append(us)
        # the selection pass caps agreement inputs at 2000 words
        _, us = clock(
            score.levenshtein,
            texts["layout"].split()[:2000],
            texts["density"].split()[:2000],
        )
        calls["lev"].append(us)
    return per, html_us, html_kb, pdf_us, pdf_pages


# ---------------------------------------------------------------------------
# operators: run_extraction's composition, one operator at a time
# ---------------------------------------------------------------------------


def operator_metrics(spark, docs, tracer: Tracer) -> dict:
    """Time each extraction operator forced on its own (noop sink) and
    count the rows each repair round takes.  Composes the operators the
    way ``plans.extract_pipeline.run_extraction`` does."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from smart_ocr_spark.operators import extract as ops
    from smart_ocr_spark.plans.extract_pipeline import (
        MAX_RETRIES_DEFAULT,
        join_payloads_for_repair,
    )

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    src = ops.size_bucketed(docs.select("url", "warc_ts", "html", "lang"))
    df = (
        ops.fused_first_pass(src)
        .withColumn("difficulty", ops.difficulty_col())
        .withColumn("repair_exhausted", F.lit(False))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    with tracer.span("operators.fused_first_pass"):
        force(df)
    retriable = ops.needs_repair_col() & ~F.col("repair_exhausted")
    rows = []
    for _ in range(MAX_RETRIES_DEFAULT):
        failed = df.filter(retriable)
        with tracer.span("operators.repair_count"):
            rows.append(failed.count())
        if rows[-1] == 0:
            break
        repaired = ops.fused_repair_round(
            join_payloads_for_repair(docs, failed, n_failed=rows[-1])
        ).persist(StorageLevel.MEMORY_AND_DISK)
        with tracer.span("operators.fused_repair_round"):
            force(repaired)
        df = df.filter(~retriable).unionByName(repaired)
    with tracer.span("operators.repair_count"):
        still_failing = df.filter(ops.needs_repair_col()).count()
    with tracer.span("operators.with_selection"):
        force(ops.with_selection(df))
    spark.catalog.clearCache()
    rows += [0] * (2 - len(rows))
    return {
        "operators.first_pass_s": tracer.seconds("operators.fused_first_pass"),
        "operators.repair_round_s": tracer.seconds("operators.fused_repair_round"),
        "operators.selection_s": tracer.seconds("operators.with_selection"),
        "pipeline.repair_rows_round1": rows[0],
        "pipeline.repair_rows_round2": rows[1],
        "pipeline.repair_yield": (
            (rows[0] - still_failing) / rows[0] if rows[0] else 0.0
        ),
    }


def checksum_row(df) -> tuple[int, int]:
    """(rows, order-independent checksum over url and final_text)."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(url, final_text))").alias("checksum"),
    ).collect()[0]
    return int(r["n"]), int(r["checksum"] or 0)


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


# ---------------------------------------------------------------------------
# plans.checkpoint: cold run, then resume after a seeded bucket change
# ---------------------------------------------------------------------------

N_BUCKETS = 8
N_CHANGED = 2


def checkpoint_metrics(
    spark, wl, tracer: Tracer, work: str, expected: int
) -> tuple[dict, dict]:
    """``run_with_checkpoint`` over the workload's corpus into a fresh
    directory, then a resume after the documents of a seeded
    ``N_CHANGED`` of ``N_BUCKETS`` buckets were crawled again (a later
    ``warc_ts``, same payload).  Returns the metrics and one repetition
    record whose check compares the results table with ``expected``, a
    full extraction's checksum, and the processed-bucket counts with the
    plan."""
    from pyspark.sql import functions as F

    from smart_ocr_spark.plans.checkpoint import (
        BUCKET_COL,
        bucket_fingerprints,
        read_results,
        run_with_checkpoint,
        with_bucket,
    )

    docs = wl.corpus(spark)
    changed_ids = sorted(random.Random(wl.seed).sample(range(N_BUCKETS), N_CHANGED))
    recrawled = F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    changed_path = os.path.join(work, "corpus_changed")
    (
        with_bucket(docs, N_BUCKETS)
        .withColumn(
            "warc_ts",
            F.when(F.col(BUCKET_COL).isin(changed_ids), recrawled)
            .otherwise(F.col("warc_ts")),
        )
        .drop(BUCKET_COL)
        .write.parquet(changed_path)
    )
    changed = spark.read.parquet(changed_path)

    out_dir = os.path.join(work, "checkpoint")
    with tracer.span("checkpoint.run_with_checkpoint"):
        cold = run_with_checkpoint(spark, docs, out_dir, N_BUCKETS)
    cold_rows, cold_checksum = checksum_row(read_results(spark, out_dir))
    results_mb = _dir_mb(out_dir)
    with tracer.span("checkpoint.bucket_fingerprints"):
        bucket_fingerprints(changed, N_BUCKETS).collect()
    with tracer.span("checkpoint.resume"):
        resumed = run_with_checkpoint(spark, changed, out_dir, N_BUCKETS)
    rows, checksum = checksum_row(read_results(spark, out_dir))
    errors = []
    if cold["processed_buckets"] != N_BUCKETS:
        errors.append(f"cold run processed {cold['processed_buckets']} buckets")
    if resumed["processed_buckets"] != N_CHANGED:
        errors.append(f"resume processed {resumed['processed_buckets']} buckets")
    if {cold_rows, rows} != {wl.n_docs} or {cold_checksum, checksum} != {expected}:
        errors.append("checkpoint results differ from a full extraction")
    pending = resumed["processed_buckets"]
    metrics = {
        "checkpoint.fingerprint_s": tracer.seconds("checkpoint.bucket_fingerprints"),
        "checkpoint.results_mb_written": results_mb,
        "checkpoint.pending_buckets": pending,
        "checkpoint.skipped_bucket_share": 1 - pending / N_BUCKETS,
        "checkpoint.resume_s": tracer.seconds("checkpoint.resume"),
    }
    rep = {
        "errors": errors,
        "run_s": tracer.seconds("checkpoint.run_with_checkpoint"),
        "result": {"cold": cold, "resume": resumed},
    }
    return metrics, rep


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def traced_run(sess, wl, work: str, timed_reps):
    """Returns (repetitions, per-layer metrics, info)."""
    m = dict.fromkeys(KERNEL + OPERATORS + PIPELINE + CHECKPOINT + FUNCTIONS, 0.0)
    wl.generate()
    spark = sess.start()
    wl.materialize(spark, os.path.join(work, "data"))
    wl.warm(spark)
    # the first full-size repetition in a context runs slower than the
    # next, and the JVM runs hotter in the second context than in the
    # first: the overhead compares the second repetition of each context
    untraced = timed_reps(sess, wl, 0)
    untraced_s = untraced[1]["run_s"]
    if wl.extracts:
        m.update(kernel_metrics(*wl.kernel_sample()))

    log_dir = os.path.join(work, "eventlog")
    spark = sess.start(event_log_dir=log_dir)
    wl.warm(spark)
    # without job descriptions, so the event-log metrics see only the
    # second repetition
    traced = timed_reps(sess, wl, 0, min_reps=1)
    wl.tracer = tracer = Tracer(spark.sparkContext)
    traced += timed_reps(sess, wl, 0, min_reps=1)
    rep = traced[-1]
    with tracer.span("sources.scan"):
        wl.corpus(spark).write.format("noop").mode("overwrite").save()
    m["sources.scan_s"] = tracer.seconds("sources.scan")
    m["sources.input_mb"] = wl.input_mb
    m["sources.input_partitions"] = wl.corpus(spark).rdd.getNumPartitions()
    if wl.extracts:
        m.update(operator_metrics(spark, wl.corpus(spark), tracer))
        expected = rep.get("result", {}).get("checksum")
        cm, ckpt_rep = checkpoint_metrics(spark, wl, tracer, work, expected)
        m.update(cm)
        traced.append(ckpt_rep)
    sess.stop()  # flushes the event log

    log = EventLog(log_dir)
    if wl.extracts:
        m.update(pipeline_metrics(log, "extract_pipeline.run_extraction"))
        m["pipeline.cached_frames_left"] = rep.get("cached_frames_left", -1)
        # the results and lineage writes inside the cold run
        m["checkpoint.write_s"] = sum(
            j["end"] - j["start"]
            for j in log.jobs_of("checkpoint.run_with_checkpoint")
            if any(n.startswith("parquet at") for n in j["stage_names"])
        ) / 1e3
    else:
        pair_rows = max(
            (
                log.stages[s].get("internal.metrics.shuffle.write.recordsWritten", 0)
                for s in log.stages_of("dedup.ngram_jaccard_pairs")
            ),
            default=0,
        )
        n_pairs = rep.get("result", {}).get("ngram_pairs", 0)
        m.update({
            "dedup.minhash_pairs_s": tracer.seconds("dedup.minhash_dedup_pairs"),
            "dedup.ngram_pairs_s": tracer.seconds("dedup.ngram_jaccard_pairs"),
            "dedup.ngram_pair_rows": pair_rows,
            "dedup.ngram_yield": n_pairs / pair_rows if pair_rows else 0.0,
            "components.canonical_s": tracer.seconds("components.canonical_docs"),
        })
    traced_s = rep["run_s"]
    m["trace.run_s"] = traced_s
    m["trace.untraced_run_s"] = untraced_s
    m["trace.overhead_s"] = traced_s - untraced_s

    out_dir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{wl.seed}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "metrics": m}, f, indent=1)
    return untraced + traced, m, {"spans": len(tracer.spans)}
