"""Traced run: per-layer numbers, measured from outside the program.

Each layer is timed by calling its public functions on the workload's
inputs, or read from Spark's own event log, which is switched on through
`get_spark(extra_conf=...)` in this mode only. The kernel split runs
single-process after Spark has stopped. README.md maps every metric to
its layer and to the end-to-end metric it should move.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import corpus
from harness import CORES, Passes, metric, set_up
from workloads import Inputs, span_problems

CHECKPOINT = {"pages": 120, "files": 4, "corrupt_frac": 0.01, "buckets": 4}
SPLIT_PAGES = 120        # pages through the single-process kernel split
SPLIT_REPEATS = 3        # times each page goes through the split and whole
SPLIT_WARM_S = 2.0       # kernel warm-up before the split is timed
CODEC_PAGES = 4          # pages per codec for the per-codec decode times

# name -> (unit, better); the order is the order of BENCHMARK.json
PER_LAYER = {
    "sources.scan_s": ("s", "lower"),
    "sources.input_bytes": ("bytes", "lower"),
    "extract.pre_udf_s": ("s", "lower"),
    "extract.ocr_stage_s": ("s", "lower"),
    "extract.ocr_busy_frac": ("ratio", "higher"),
    "extract.window_stage_s": ("s", "lower"),
    "extract.shuffle_write_bytes": ("bytes", "lower"),
    "boundary.ocr_tasks": ("count", "lower"),
    "boundary.identity_s": ("s", "lower"),
    "boundary.s_per_task": ("s", "lower"),
    "boundary.python_bytes_sent": ("bytes", "lower"),
    "oracle.decode_ms_per_page": ("ms", "lower"),
    "oracle.binarize_ms_per_page": ("ms", "lower"),
    "oracle.segment_ms_per_page": ("ms", "lower"),
    "oracle.recognize_ms_per_page": ("ms", "lower"),
    "oracle.attrs_ms_per_page": ("ms", "lower"),
    "oracle.analyze_ms_per_page": ("ms", "lower"),
    "oracle.split_error_frac": ("ratio", "lower"),
    **{f"oracle.decode_ms_per_page.{c}": ("ms", "lower")
       for c in corpus.CODECS},
    "sinks.hocr_s": ("s", "lower"),
    "checkpoint.wall_s": ("s", "lower"),
    "checkpoint.jobs": ("count", "lower"),
    "checkpoint.reread_s": ("s", "lower"),
    "checkpoint.audit_s": ("s", "lower"),
    "checkpoint.bucket_wall_ms_median": ("ms", "lower"),
    "checkpoint.bucket_wall_ms_max": ("ms", "lower"),
    "checkpoint.error_spans": ("count", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.untraced_wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

PY_BYTES = "data sent to Python workers"
SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _joined(docs, media):
    """The flagship plan cut before Python: image spans joined to media."""
    from pyspark.sql import functions as F
    img = (docs.select("doc_id", F.explode("spans").alias("s"))
           .where(F.col("s.kind") == "image")
           .select("doc_id", F.col("s.offset").alias("offset"),
                   F.col("s.media_ref").alias("media_ref")))
    return img.join(media, "media_ref")


def spark_probes(spark, inp: Inputs, out: dict,
                 problems: list) -> tuple[float, float]:
    """Probes timed from outside; returns the wall-clock window (ms) of the
    flagship pass, whose jobs the event log is read for."""
    from pyspark.sql import functions as F

    from org_dharts_dia_tesseract_spark.operators import (analyze_documents,
                                                          extract_spans)
    from org_dharts_dia_tesseract_spark.operators.sinks import hocr
    docs, media = inp.frames(spark)
    n_pages = inp.expected["n_pages"]
    payload = F.sum(F.length("payload"))

    t0 = time.perf_counter()
    docs.count()
    out["sources.input_bytes"] = media.agg(payload).first()[0]
    out["sources.scan_s"] = time.perf_counter() - t0

    joined = _joined(docs, media)
    t0 = time.perf_counter()
    got = joined.agg(F.count("*"), payload).first()[0]
    out["extract.pre_udf_s"] = time.perf_counter() - t0
    if got != n_pages:
        problems.append(f"pre-UDF plan has {got} pages, not {n_pages}")

    def identity(batches):
        yield from batches

    t = _timed(lambda: joined.mapInPandas(identity, joined.schema)
               .agg(payload).first())
    out["boundary.identity_s"] = t - out["extract.pre_udf_s"]

    flagship = time.time() * 1000
    rows = extract_spans(docs, media).collect()
    flagship = (flagship, time.time() * 1000)
    problems += span_problems(rows, inp.expected)

    h = analyze_documents(docs, media).persist()
    try:
        h.count()
        out["sinks.hocr_s"] = statistics.median(
            _timed(lambda: hocr(h).collect()) for _ in range(3))
    finally:
        h.unpersist()
    return flagship


def checkpoint_probe(spark, seed: int, out: dict, problems: list) -> None:
    """One run_checkpointed pass, dead-letter, over the raw corpus with a
    seeded 1% of pages truncated; re-read and audit timed from outside."""
    from pyspark.sql import functions as F

    from org_dharts_dia_tesseract_spark.operators.extract import \
        audit_dangling_media
    from org_dharts_dia_tesseract_spark.sources.checkpoint import (
        metrics, read_output, run_checkpointed)
    inp = Inputs.load(corpus.materialize(
        "raw", seed, CHECKPOINT["pages"], CHECKPOINT["files"],
        CHECKPOINT["corrupt_frac"]))
    docs, media = inp.frames(spark)
    root = os.path.join(corpus.CACHE, "checkpoint")
    shutil.rmtree(root, ignore_errors=True)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    t0 = time.perf_counter()
    summary = run_checkpointed(spark, docs, media, root,
                               n_buckets=CHECKPOINT["buckets"],
                               on_error="dead-letter")
    out["checkpoint.wall_s"] = time.perf_counter() - t0
    out["checkpoint.jobs"] = len(set(tracker.getJobIdsForGroup()) - before)
    if summary["failed"]:
        problems.append(f"checkpoint buckets failed: {summary['failed']}")
    rows = read_output(spark, root).select(*corpus.SPAN_COLUMNS).collect()
    errors = sorted(r["media_ref"] for r in rows if r["kind"] == "error")
    if errors != inp.expected["corrupt"]:
        problems.append(f"checkpoint dead-lettered {errors}, injected "
                        f"{inp.expected['corrupt']}")
    problems += span_problems(rows, inp.expected)

    data = os.path.join(root, "data")
    is_err = (F.col("kind") == "error").alias("is_err")
    out["checkpoint.reread_s"] = sum(
        _timed(lambda p=os.path.join(data, b): spark.read.parquet(p)
               .groupBy(is_err).count().collect())
        for b in sorted(os.listdir(data)) if b.startswith("bucket="))

    def audit():
        dangling = audit_dangling_media(docs, media)
        dangling.limit(20).collect()
        dangling.count()
    out["checkpoint.audit_s"] = _timed(audit)
    manifests = metrics(root)
    walls = [m["wall_ms"] for m in manifests]
    out["checkpoint.bucket_wall_ms_median"] = statistics.median(walls)
    out["checkpoint.bucket_wall_ms_max"] = max(walls)
    out["checkpoint.error_spans"] = sum(m.get("n_error_spans", 0)
                                        for m in manifests)
    shutil.rmtree(root, ignore_errors=True)


def event_log_metrics(logdir: str, window: tuple[float, float],
                      out: dict) -> None:
    """OCR and window stage numbers of the jobs submitted in `window`."""
    events = []
    for d, _, names in os.walk(logdir):
        for name in sorted(names):
            if name.startswith(("events_", "local-")):
                with open(os.path.join(d, name)) as f:
                    events += [json.loads(line) for line in f]
    t0, t1 = window
    stage_ids = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and \
                t0 <= e["Submission Time"] <= t1:
            stage_ids.update(e["Stage IDs"])
    stages = [e["Stage Info"] for e in events
              if e["Event"] == "SparkListenerStageCompleted"
              and e["Stage Info"]["Stage ID"] in stage_ids]

    def acc(si, name):
        return sum(float(a["Value"]) for a in si.get("Accumulables", [])
                   if a.get("Name") == name)

    def dur(si):
        return (si["Completion Time"] - si["Submission Time"]) / 1000

    ocr = max(stages, key=lambda si: acc(si, PY_BYTES))
    last = max(stages, key=lambda si: si["Stage ID"])
    out["extract.ocr_stage_s"] = dur(ocr)
    out["boundary.ocr_tasks"] = ocr["Number of Tasks"]
    out["boundary.python_bytes_sent"] = acc(ocr, PY_BYTES)
    out["extract.window_stage_s"] = dur(last)
    out["extract.shuffle_write_bytes"] = sum(acc(si, SHUFFLE_WRITE)
                                             for si in stages)


def _attrs(blocks, ink, ppi: int) -> None:
    """The attribute part of oracle.page.analyze_page, step for step."""
    from org_dharts_dia_tesseract_spark.oracle.page import dictionary_words
    from org_dharts_dia_tesseract_spark.oracle.recognize import (
        font_attributes, is_numeric, typography_flags)
    from org_dharts_dia_tesseract_spark.oracle.segment import (
        TEXT_KINDS, detect_justification, detect_orientation)
    wordlist = dictionary_words()
    for blk in blocks:
        if blk.block_type not in TEXT_KINDS:
            continue
        for para in blk.children:
            for line in para.children:
                lh = line.box[3] - line.box[1]
                base_y = line.baseline[1] if line.baseline else line.box[3]
                for w in line.children:
                    w.font = font_attributes(w, lh, ppi)
                    w.is_dict = bool(w.text and w.text.lower() in wordlist)
                    w.is_num = is_numeric(w.text)
                    for sym in w.children:
                        sym.typo_flags = typography_flags(sym, line.box,
                                                          base_y)
    for blk in blocks:
        blk.orientation_info = detect_orientation(ink, blk.box)
        if blk.block_type in TEXT_KINDS:
            for para in blk.children:
                para.justification = detect_justification(para)


def _media_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq
    return [r for n in sorted(os.listdir(path)) if n.endswith(".parquet")
            for r in pq.read_table(os.path.join(path, n)).to_pylist()]


def kernel_split(inp: Inputs, out: dict) -> float:
    """Single-process stage times of the page kernel over the workload's
    pages; returns decode + analyze ms per page. Each page is decoded once;
    the stages after decode are timed one after another, and the whole of
    analyze_page on the same image, so their sum can be checked against
    it."""
    from org_dharts_dia_tesseract_spark.functions.config import \
        resolve_languages
    from org_dharts_dia_tesseract_spark.oracle.binarize import otsu_binarize
    from org_dharts_dia_tesseract_spark.oracle.page import (DEFAULT_PPI,
                                                            analyze_page,
                                                            decode_payload)
    from org_dharts_dia_tesseract_spark.oracle.recognize import \
        recognize_blocks
    from org_dharts_dia_tesseract_spark.oracle.segment import segment
    langs = resolve_languages("eng")
    corrupt = set(inp.expected["corrupt"])
    rows = sorted((r for r in _media_rows(os.path.join(inp.path, "media"))
                   if r["media_ref"] not in corrupt),
                  key=lambda r: r["media_ref"])[:SPLIT_PAGES]
    stages = ("binarize", "segment", "recognize", "attrs")
    ms = dict.fromkeys(stages + ("decode", "analyze"), 0.0)
    clock = time.perf_counter

    def split(img):
        t = [clock()]
        ink = otsu_binarize(img)
        t.append(clock())
        blocks = segment(ink, psm="AUTO")
        t.append(clock())
        recognize_blocks(blocks, langs=langs)
        t.append(clock())
        _attrs(blocks, ink, DEFAULT_PPI)
        t.append(clock())
        return [b - a for a, b in zip(t, t[1:])]

    def whole(img):
        t0 = clock()
        analyze_page(img, psm="AUTO", langs=langs)
        return clock() - t0

    def decode(r):
        return decode_payload(r["payload"], r["width"], r["height"],
                              r["bands"])

    # imports, first-call caches, and the first seconds of a fresh
    # process, which ran every stage slower by up to 40% when measured
    warm = [decode(r) for r in rows[:8]]
    t_end = clock() + SPLIT_WARM_S
    while clock() < t_end:
        for img in warm:
            split(img)
            whole(img)
    images = []
    for r in rows:
        t0 = clock()
        images.append(decode(r))
        ms["decode"] += (clock() - t0) * 1000
    for rep in range(SPLIT_REPEATS):
        for i, img in enumerate(images):
            # alternate which goes first, so neither always meets warm caches
            if (i + rep) % 2:
                total = whole(img)
                parts = split(img)
            else:
                parts = split(img)
                total = whole(img)
            for name, sec in zip(stages + ("analyze",), parts + [total]):
                ms[name] += sec * 1000
    n = len(rows)
    out["oracle.decode_ms_per_page"] = ms["decode"] / n
    for name in stages + ("analyze",):
        out[f"oracle.{name}_ms_per_page"] = ms[name] / (n * SPLIT_REPEATS)
    split_sum = sum(ms[s] for s in stages)
    out["oracle.split_error_frac"] = (abs(split_sum - ms["analyze"])
                                      / ms["analyze"])
    return out["oracle.decode_ms_per_page"] + out["oracle.analyze_ms_per_page"]


def codec_decode(out: dict) -> None:
    """Decode time per page in each codec, over the same first pages of
    the codec pool on every workload."""
    from org_dharts_dia_tesseract_spark.oracle.page import decode_payload
    pool = corpus.pool_dir("codec")
    for name in corpus.CODECS:
        media = corpus.read_media(os.path.join(pool, f"media-{name}.parquet"))
        rows = [media[k] for k in sorted(media)[:CODEC_PAGES]]
        decode_payload(rows[0]["payload"], rows[0]["width"],
                       rows[0]["height"], rows[0]["bands"])   # first call
        t0 = time.perf_counter()
        for r in rows:
            decode_payload(r["payload"], r["width"], r["height"], r["bands"])
        out[f"oracle.decode_ms_per_page.{name}"] = \
            (time.perf_counter() - t0) * 1000 / len(rows)


def traced(wl, inp: Inputs, seed: int, seconds: float):
    """Untraced passes, then a session with the event log on: traced passes,
    the probes, and after it stops the single-process kernel split."""
    passes = Passes()
    spark = set_up(wl, inp)
    passes.problems += wl.prepare(spark, inp)
    passes.run(spark, wl, inp, seconds / 2)
    untraced = passes.wall_s
    spark.stop()

    logdir = os.path.join(corpus.CACHE, "eventlog")
    shutil.rmtree(logdir, ignore_errors=True)
    os.makedirs(logdir)
    spark = set_up(wl, inp, {"spark.eventLog.enabled": "true",
                             "spark.eventLog.dir": "file://" + logdir,
                             "spark.eventLog.compress": "false"})
    traced_passes = Passes()
    traced_passes.run(spark, wl, inp, seconds / 2)
    out: dict[str, float] = {}
    problems = traced_passes.problems
    flagship = spark_probes(spark, inp, out, problems)
    checkpoint_probe(spark, seed, out, problems)
    spark.stop()
    event_log_metrics(logdir, flagship, out)

    kernel_ms = kernel_split(inp, out)
    codec_decode(out)
    out["boundary.s_per_task"] = (out["boundary.identity_s"] * CORES
                                  / out["boundary.ocr_tasks"])
    out["extract.ocr_busy_frac"] = (kernel_ms * inp.expected["n_pages"] / 1000
                                    / (out["extract.ocr_stage_s"] * CORES))
    out["trace.wall_s"] = traced_passes.wall_s
    out["trace.untraced_wall_s"] = untraced
    out["trace.overhead_s"] = traced_passes.wall_s - untraced

    passes.attempted += traced_passes.attempted
    passes.failed += traced_passes.failed
    passes.problems += problems
    metrics = {k: metric(out[k], PER_LAYER[k][0]) for k in PER_LAYER}
    note = (f"split_error={out['oracle.split_error_frac']:.3f} "
            f"busy_frac={out['extract.ocr_busy_frac']:.3f}")
    return metrics, passes, note
