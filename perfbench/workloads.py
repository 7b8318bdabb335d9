"""The benchmark's workloads: what one timed pass runs, and how its output
is checked against the single-process oracle.

Each workload drives the program only through its public entry points:
`operators.extract_spans`, `operators.analyze_documents` and
`operators.sinks.hocr`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import corpus

WARM_FILES = 4          # media files in the warm-up slice: one per core


@dataclass
class Inputs:
    path: str
    expected: dict

    @classmethod
    def load(cls, path: str) -> "Inputs":
        with open(os.path.join(path, "expected.json")) as f:
            return cls(path, json.load(f))

    def frames(self, spark, warm: bool = False):
        """(documents, media) DataFrames; `warm` reads only the first
        WARM_FILES media files."""
        docs = spark.read.parquet(os.path.join(self.path, "documents"))
        mdir = os.path.join(self.path, "media")
        files = sorted(os.path.join(mdir, n) for n in os.listdir(mdir)
                       if n.endswith(".parquet"))
        media = spark.read.parquet(*(files[:WARM_FILES] if warm else files))
        return docs, media


class Workload:
    name: str
    why: str
    corpus = "raw"
    pages = 240
    files = 8

    def inputs(self, seed: int) -> Inputs:
        return Inputs.load(corpus.materialize(self.corpus, seed, self.pages,
                                              self.files))

    def prepare(self, spark, inp: Inputs) -> list[str]:
        """Untimed, once per session: returns problems found."""
        return []

    def run(self, spark, inp: Inputs, warm: bool = False):
        raise NotImplementedError

    def check(self, spark, inp: Inputs, result) -> list[str]:
        raise NotImplementedError


def span_problems(rows, expected: dict) -> list[str]:
    rows = [tuple(r[c] for c in corpus.SPAN_COLUMNS) for r in rows]
    if len(rows) != expected["span_rows"]:
        return [f"{len(rows)} span rows, oracle has {expected['span_rows']}"]
    if corpus.span_hash(rows) != expected["span_hash"]:
        return ["span rows differ from the oracle"]
    return []


class SpansRaw(Workload):
    name = "spans_raw"
    why = ("extract_spans over raw pages: decode is free and the kernel is a "
           "small share, so the Spark side and per-task Python cost dominate")

    def run(self, spark, inp, warm=False):
        from org_dharts_dia_tesseract_spark.operators import extract_spans
        return extract_spans(*inp.frames(spark, warm)).collect()

    def check(self, spark, inp, result):
        return span_problems(result, inp.expected)


class HocrCodecs(Workload):
    name = "hocr_codecs"
    why = ("hocr(analyze_documents) over pages in an even mix of 8 codecs: "
           "decode and every hierarchy attribute are used, so codec speed "
           "shows and a span-path shortcut must not")
    corpus = "codec"
    pages = 64      # one page of every codec in each of the 8 files

    def __init__(self):
        self.pinned: str | None = None

    def prepare(self, spark, inp):
        """Check the hierarchy rows against the oracle, then pin the hOCR
        built from those same rows."""
        from org_dharts_dia_tesseract_spark.operators import analyze_documents
        from org_dharts_dia_tesseract_spark.operators.sinks import hocr
        h = analyze_documents(*inp.frames(spark)).persist()
        try:
            got = corpus.row_multiset(tuple(r) for r in h.collect())
            self.pinned = corpus.hocr_hash(hocr(h).collect())
        finally:
            h.unpersist()
        want = tuple(inp.expected["hier"])
        if got != want:
            return [f"hierarchy rows differ from the oracle "
                    f"({got[1]} rows, oracle has {want[1]})"]
        return []

    def run(self, spark, inp, warm=False):
        from org_dharts_dia_tesseract_spark.operators import analyze_documents
        from org_dharts_dia_tesseract_spark.operators.sinks import hocr
        return hocr(analyze_documents(*inp.frames(spark, warm))).collect()

    def check(self, spark, inp, result):
        if corpus.hocr_hash(result) != self.pinned:
            return ["hOCR differs from the pinned hOCR of the checked "
                    "hierarchy"]
        return []


WORKLOADS = {w.name: w for w in (SpansRaw, HocrCodecs)}
