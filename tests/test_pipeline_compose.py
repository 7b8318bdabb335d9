"""Tests: annotated-image sink, composed training pipeline, skew balance."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from org_dharts_dia_tesseract_spark.operators import analyze_documents
from org_dharts_dia_tesseract_spark.operators.annotate import annotate_pages
from org_dharts_dia_tesseract_spark.operators.pipeline import (
    doc_text_from_spans, training_corpus)
from org_dharts_dia_tesseract_spark.sources import corpus_tables

N_DOCS = 20


@pytest.fixture(scope="module")
def corpus(spark):
    d, m = corpus_tables(spark, N_DOCS)
    return d.cache(), m.cache()


def test_annotate_pages_burns_boxes(spark, corpus):
    docs, media = corpus
    h = analyze_documents(docs, media)
    out = annotate_pages(h, media).first()
    img = np.frombuffer(out["payload"], dtype=np.uint8).reshape(
        out["height"], out["width"])
    assert out["n_boxes"] > 0
    # some pixels now carry exact outline grey values on box rows
    assert (img == 0).sum() > 0 or (img == 128).sum() > 0


def test_training_corpus_pipeline(spark, corpus):
    docs, media = corpus
    out = training_corpus(docs, media).cache()
    rows = out.collect()
    assert len(rows) > 0
    for r in rows[:10]:
        assert r["fingerprint"] is not None and len(r["fingerprint"]) == 32
        assert r["n_tokens"] > 0
        assert isinstance(r["keep"], bool)
    # the quality gate keeps a sane majority of synthetic docs
    kept = out.where("keep").count()
    assert 0 < kept <= len(rows)
    out.unpersist()


def test_doc_text_reassembly_ordered(spark, corpus):
    docs, media = corpus
    from org_dharts_dia_tesseract_spark.operators import extract_spans
    spans = extract_spans(docs, media).cache()
    text = doc_text_from_spans(spans)
    one = text.orderBy("doc_id").first()
    spans_of = (spans.where((F.col("doc_id") == one["doc_id"])
                            & (F.col("kind") == "text"))
                .orderBy("seq").collect())
    assert one["text"] == "\n".join(r["text"] for r in spans_of)
    spans.unpersist()


def test_skew_tail_fans_out(spark):
    """A 128-image skew doc must spread across tasks: the OCR-stage input
    partitioning is by media_ref (per page), so no partition may hold more
    than a small fraction of a skew doc's pages."""
    from org_dharts_dia_tesseract_spark import datagen
    from org_dharts_dia_tesseract_spark.operators.extract import \
        image_pages
    # find a skew doc id deterministically
    skew_id = None
    for i in range(3000):
        doc_id = f"doc-{i:08d}"
        spans = datagen.doc_spans_for(doc_id)
        if len(spans) >= 32:
            skew_id = doc_id
            break
    assert skew_id is not None, "no skew doc in range"
    n = int(skew_id.split("-")[1]) + 1
    docs, media = corpus_tables(spark, n)
    joined = image_pages(docs, media)
    pid = joined.withColumn("pid", F.spark_partition_id())
    dist = (pid.where(F.col("doc_id") == skew_id)
            .groupBy("pid").count().collect())
    total = sum(r["count"] for r in dist)
    assert total >= 32
    # pages of the skew doc land on many partitions, none dominating
    assert len(dist) >= 4
    assert max(r["count"] for r in dist) < total
