"""Composed training-data pipeline: extraction -> text analysis ->
deduplication over the OCR output — the end-to-end shape a 100 TB
training-data build runs, as one lazy DataFrame graph.

Stages (all declarative; one Arrow stage inside extract_spans):
  1. extract_spans: interleaved docs -> ordered spans
  2. reassemble doc text (ordered concat of text spans)
  3. quality scoring + language heuristic + token counts (scalar fns)
  4. exact + minhash dedup on the reassembled text
  5. output: per-doc record with text, metrics, and keep/drop decision
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import ordered_join
from .dedup import exact_dedup, minhash_lsh_candidates
from .extract import extract_spans


def doc_text_from_spans(spans: DataFrame) -> DataFrame:
    """Reassemble one text per document from its ordered text spans."""
    return (spans.where((F.col("kind") == "text") & F.col("text").isNotNull())
            .groupBy("doc_id")
            .agg(ordered_join("seq", "text", "\n").alias("text"),
                 F.count("*").cast("bigint").alias("n_text_spans")))


def quality_columns(docs_text: DataFrame) -> DataFrame:
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    n_punct = F.size(F.regexp_extract_all("text", F.lit("[.,:;!?]"), F.lit(0)))
    return (docs_text
            .withColumn("n_chars", F.length("text").cast("bigint"))
            .withColumn("n_tokens", n_tok)
            .withColumn("punct_ratio",
                        F.round(n_punct / F.greatest(F.length("text"), F.lit(1)), 4))
            .withColumn("fingerprint",
                        F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))))


def training_corpus(documents: DataFrame, media: DataFrame,
                    min_tokens: int = 3) -> DataFrame:
    """Full composed pipeline; returns per-doc records with a `keep`
    decision (quality gate + near-dup drop)."""
    spans = extract_spans(documents, media)
    text = quality_columns(doc_text_from_spans(spans))
    deduped = exact_dedup(text)
    near = minhash_lsh_candidates(deduped.select("doc_id", "text"))
    losers = near.select(F.col("id_b").alias("doc_id")).distinct() \
        .withColumn("near_dup", F.lit(True))
    out = deduped.join(losers, "doc_id", "left")
    return (out.withColumn("near_dup", F.coalesce("near_dup", F.lit(False)))
            .withColumn("keep", (~F.col("near_dup"))
                        & (F.col("n_tokens") >= min_tokens)))
