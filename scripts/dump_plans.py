"""Regenerate PLANS.md: `explain('formatted')` captures of the headline
operators (the plan postures regression-pinned in tests/test_plans.py).

    python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from org_dharts_dia_tesseract_spark.operators import extract_spans
    from org_dharts_dia_tesseract_spark.plans.inspect import explain_str
    from org_dharts_dia_tesseract_spark.queries import spark_queries
    from org_dharts_dia_tesseract_spark.session import get_spark
    from org_dharts_dia_tesseract_spark.sources import materialize_corpus

    spark = get_spark("local[8]", app_name="plans", shuffle_partitions=8)
    docs_path, media_path = materialize_corpus(
        spark, os.path.join(REPO, "data", "gen"), 5000)
    docs = spark.read.parquet(docs_path)
    media = spark.read.parquet(media_path)
    sf = "/root/testdata/sf0.001"
    qs = spark_queries()

    sections = [
        ("Flagship: extract_spans (documents + media -> ordered spans)",
         extract_spans(docs, media),
         "Span side broadcasts (payloads never shuffle); ONE exchange "
         "total (the lean seq window); OCR stage is a single MapInPandas "
         "over Arrow batches."),
        ("tpch_q3_shipping_priority", qs["tpch_q3_shipping_priority"](spark, sf),
         "Filtered customer dim broadcasts; date filters pushed to both "
         "parquet scans."),
        ("minhash_signatures", qs["minhash_signatures"](spark, sf),
         "Shingling is a narrow map (higher-order array fns); the only "
         "exchange is the doc_id groupBy."),
        ("simhash32", qs["simhash32"](spark, sf),
         "32 vote sums in one map-side-combinable aggregation; single "
         "exchange."),
        ("similarity_topk_cosine", qs["similarity_topk_cosine"](spark, sf),
         "Query set broadcasts; each partition scores its shard JVM-side "
         "(zip_with/aggregate in codegen); rank window carries only "
         "candidates."),
        ("simhash_near_dup_pairs", qs["simhash_near_dup_pairs"](spark, sf),
         "Hamming<=3 candidates: equi-join on (band_idx, band_value) "
         "bucket keys — bounded fan-out, no cartesian anywhere; exact "
         "bit_count(xor) filter runs on candidates only."),
        ("ngram_jaccard_band_blocked",
         qs["ngram_jaccard_band_blocked"](spark, sf),
         "Exact Jaccard only for MinHash-LSH candidate pairs: candidate "
         "generation bounded by LSH bucket sizes; the overlap join fans "
         "out per candidate pair, never on shared-word frequency."),
        ("price_quantiles_by_segment",
         qs["price_quantiles_by_segment"](spark, sf),
         "Exact interpolated percentiles: customer dim broadcasts; the "
         "rank window shuffles only (segment, price) pairs; <=2 "
         "exchanges."),
    ]
    out = ["# PLANS — physical plans of the headline operators",
           "",
           "`df.explain('formatted')` captures, regenerated by "
           "scripts/dump_plans.py.",
           "Regression-pinned in tests/test_plans.py (broadcast posture, "
           "exchange",
           "counts, pushdown, codegen)."]
    for title, df, note in sections:
        out += ["", f"## {title}", "", note, "", "```",
                explain_str(df).rstrip(), "```"]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
