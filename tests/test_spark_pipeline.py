"""Distributed-pipeline tests: span-sequence equality vs the oracle
(the core invariant), hierarchy materialization, and driver-contract
smoke. Heavier Spark tests live here; oracle tests stay Spark-free."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from org_dharts_dia_tesseract_spark import datagen
from org_dharts_dia_tesseract_spark.operators import (analyze_documents,
                                                      extract_spans)
from org_dharts_dia_tesseract_spark.oracle import document_spans
from org_dharts_dia_tesseract_spark.sources import corpus_tables

N_DOCS = 30


@pytest.fixture(scope="module")
def corpus(spark):
    docs_df, media_df = corpus_tables(spark, N_DOCS)
    return docs_df.cache(), media_df.cache()


def _oracle_spans(n_docs: int) -> pd.DataFrame:
    docs, media = datagen.make_corpus(n_docs)
    lookup = {m["media_ref"]: m for m in media}
    rows = []
    for d in docs:
        rows.extend(document_spans(d, lambda r: lookup[r]))
    return (pd.DataFrame(rows)[["doc_id", "seq", "kind", "text", "media_ref"]]
            .sort_values(["doc_id", "seq"]).reset_index(drop=True))


def test_span_sequence_equality(spark, corpus):
    """THE invariant: 100% equality on (kind, text, media_ref, order) per
    document between the distributed pipeline and the single-process
    oracle (BASELINE.json north_rule)."""
    docs_df, media_df = corpus
    got = (extract_spans(docs_df.repartition(8, "doc_id"), media_df)
           .toPandas().sort_values(["doc_id", "seq"]).reset_index(drop=True))
    exp = _oracle_spans(N_DOCS)
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(got, exp)


def test_span_sequence_equality_no_salt(spark, corpus):
    """Result is partitioning-invariant (determinism across plans)."""
    docs_df, media_df = corpus
    a = (extract_spans(docs_df, media_df)
         .toPandas().sort_values(["doc_id", "seq"]).reset_index(drop=True))
    b = (extract_spans(docs_df.repartition(3),
                       media_df.repartition(5, "media_ref"))
         .toPandas().sort_values(["doc_id", "seq"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_corpus_generation_matches_local(spark, corpus):
    docs_df, _ = corpus
    got = {r["doc_id"]: r["spans"] for r in docs_df.collect()}
    docs, _ = datagen.make_corpus(N_DOCS)
    for d in docs:
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in got[d["doc_id"]]]
        exp_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in d["spans"]]
        assert got_spans == exp_spans


def test_hierarchy_counts_match_oracle(spark, corpus):
    """Every hierarchy row of the first 20 pages equals the oracle's
    analyze_page(...).rows() in all HIERARCHY_SCHEMA columns, under a
    partitioning that differs from the scan's."""
    import numpy as np

    from org_dharts_dia_tesseract_spark.operators.extract import \
        HIERARCHY_SCHEMA
    from org_dharts_dia_tesseract_spark.oracle import analyze_page
    from org_dharts_dia_tesseract_spark.oracle.page import (decode_payload,
                                                            resolve_ppi)

    def norm(v):   # Spark FloatType round-trips through float32
        if isinstance(v, (float, np.floating)):
            return None if v != v else float(np.float32(v))
        return v.item() if isinstance(v, np.generic) else v

    docs_df, media_df = corpus
    h = analyze_documents(docs_df.repartition(4), media_df.repartition(4))
    got = (h.groupBy("media_ref").count().toPandas()
           .set_index("media_ref")["count"].to_dict())
    docs, media = datagen.make_corpus(N_DOCS)
    assert len(got) == len(media)
    place = {s["media_ref"]: (d["doc_id"], s["offset"])
             for d in docs for s in d["spans"] if s["kind"] == "image"}
    names = HIERARCHY_SCHEMA.fieldNames()
    exp = {}
    for m in media[:20]:
        img = decode_payload(m["payload"], m["width"], m["height"], m["bands"])
        res = analyze_page(img, ppi=resolve_ppi(m["payload"], m.get("dpi")))
        doc_id, offset = place[m["media_ref"]]
        for r in res.rows():
            full = {**r, "doc_id": doc_id, "media_ref": m["media_ref"],
                    "offset": offset}
            exp[(m["media_ref"], r["seq"])] = tuple(norm(full[c])
                                                    for c in names)
        assert got[m["media_ref"]] == len(res.rows())
    refs = [m["media_ref"] for m in media[:20]]
    rows = h.where(F.col("media_ref").isin(refs)).select(*names).collect()
    assert {(r["media_ref"], r["seq"]): tuple(norm(v) for v in r)
            for r in rows} == exp
    assert len(rows) == len(exp)


def test_hierarchy_invariants(spark, corpus):
    docs_df, media_df = corpus
    h = analyze_documents(docs_df, media_df).cache()
    # seq dense pre-order per page
    seqs = (h.groupBy("media_ref")
            .agg(F.min("seq").alias("mn"), F.max("seq").alias("mx"),
                 F.count("*").alias("n")))
    bad = seqs.where((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1))
    assert bad.count() == 0
    # virtual chain: non-text blocks have exactly one PARA/LINE/WORD, no SYMBOL
    nontext = h.where(~F.col("block_type").isin("FLOWING_TEXT"))
    per = (nontext.groupBy("media_ref", "block_id", "level").count()
           .groupBy("level").agg(F.max("count").alias("mx")))
    mx = {r["level"]: r["mx"] for r in per.collect()}
    assert mx.get("SYMBOL") is None
    assert all(v == 1 for k, v in mx.items() if k != "BLOCK")
    # word boxes nested in their block boxes
    blocks = h.where(F.col("level") == "BLOCK").select(
        "media_ref", "block_id", F.col("left").alias("bl"),
        F.col("top").alias("bt"), F.col("right").alias("br"),
        F.col("bottom").alias("bb"))
    words = h.where(F.col("level") == "WORD")
    joined = words.join(blocks, ["media_ref", "block_id"])
    viol = joined.where((F.col("left") < F.col("bl")) | (F.col("top") < F.col("bt"))
                        | (F.col("right") > F.col("br"))
                        | (F.col("bottom") > F.col("bb")))
    assert viol.count() == 0
    h.unpersist()


def test_driver_contract_entry(spark):
    import __spark_entry__ as e
    qs, oq = e.queries(), e.oracle_sql()
    assert set(oq).issubset(set(qs))
    assert len(oq) >= 25
    # every rows-only query is a raster-pipeline op or a documented
    # non-SQL-expressible op (DOM-heuristic scorer runs in mapInPandas)
    rows_only_allowed = {"html_main_content"}
    for name in set(qs) - set(oq):
        assert name.startswith("ocr_") or name in rows_only_allowed, name


def test_whitelist_and_psm_flow_through(spark, corpus):
    docs_df, media_df = corpus
    h = analyze_documents(docs_df, media_df, psm="SINGLE_BLOCK",
                          whitelist="0123456789-. ")
    blocks = h.where(F.col("level") == "BLOCK")
    assert blocks.groupBy("media_ref").count().agg(
        F.max("count")).collect()[0][0] == 1
    syms = h.where((F.col("level") == "SYMBOL") & F.col("text").isNotNull())
    chars = {r["text"] for r in syms.select("text").distinct().collect()}
    assert chars.issubset(set("0123456789-. "))
