"""Benchmark entry: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line and writes the same
numbers as markdown to data/BENCH_latest.md.

The N-vs-4N scaling efficiency is the median of the admitted rounds in
the closed ledger BENCH_scaling_attempts.jsonl, which is read, never
written.

Usage:
    python bench.py                      # headline queries + ledger median
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
GEN_DIR = os.path.join(REPO, "data", "gen")
REPORT = os.path.join(REPO, "data", "BENCH_latest.md")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# which committed ledger rows count: rounds run on the 40000-doc corpus
# whose host granted >= 3.5x compute at 4x procs (min of the round's pre-
# and post-probe) while they ran
SCALE_DOCS = 40000
CAPACITY_MIN = 3.5
# the closed ledger of scaling rounds; the reported north-rule efficiency
# is the median over ALL admitted rounds on record
LEDGER = os.path.join(REPO, "BENCH_scaling_attempts.jsonl")
# N vs 4N is 2 vs 8: the shared host's CPU quota tops out near ~16-20
# effective cores, so both sides fit under it and the ratio measures the
# plan's scaling, not the quota ceiling
PAIR = ["local[2]", "local[8]"]


def _ledger_rows() -> list[dict]:
    if not os.path.exists(LEDGER):
        return []
    with open(LEDGER) as f:
        return [json.loads(l) for l in f if l.strip()]


def _ledger_admitted(pair: list[str]) -> list[dict]:
    """Measured rounds on record that are COMMENSURABLE with the current
    protocol: same master pair, same corpus size (rows predating the
    scale_docs stamp ran the long-standing 40000-doc default), and
    admission RE-DERIVED from the stored capacity against the current
    CAPACITY_MIN — a historical flag decided under a laxer threshold
    must not smuggle a round into a stricter run's median."""
    return [r for r in _ledger_rows()
            if r.get("pair") == pair and "efficiency" in r
            and r.get("scale_docs", 40000) == SCALE_DOCS
            and r.get("capacity") is not None
            and r["capacity"] >= CAPACITY_MIN]


def _sf_label(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    return base[2:] if base.startswith("sf") else base


def _corpus_paths(spark, n_docs: int) -> tuple[str, str]:
    from org_dharts_dia_tesseract_spark.sources import materialize_corpus
    os.makedirs(GEN_DIR, exist_ok=True)
    return materialize_corpus(spark, GEN_DIR, n_docs)


def _n_docs(spark) -> int:
    from org_dharts_dia_tesseract_spark.sources.tables import load_table
    return load_table(spark, SF_DIR, "documents").count()


def _run_flagship(spark, docs_path: str,
                  media_path: str) -> tuple[float, int]:
    from org_dharts_dia_tesseract_spark.operators import extract_spans
    docs = spark.read.parquet(docs_path)
    media = spark.read.parquet(media_path)
    t0 = time.time()
    n = extract_spans(docs, media).count()
    return time.time() - t0, n


def _single_process_baseline(n_docs: int = 150) -> dict:
    """Single-process end-to-end docs/sec of the oracle engine — the
    stand-in for the reference's single-threaded wrapper (which publishes
    no numbers, BASELINE.md): same kernels, no Spark, one core. The
    'matches-or-beats single-node throughput' comparison in the report is
    distributed-vs-this."""
    from org_dharts_dia_tesseract_spark import datagen
    from org_dharts_dia_tesseract_spark.oracle.page import document_spans
    docs, media = datagen.make_corpus(n_docs)
    lookup = {m["media_ref"]: m for m in media}.get
    t0 = time.time()
    for d in docs:
        document_spans(d, lookup)
    el = time.time() - t0
    return {"docs_per_sec_1core": round(n_docs / el, 2),
            "n_docs": n_docs, "elapsed": round(el, 3)}


def _ledger_scaling(pair: list[str]) -> dict:
    """The scaling summary: median efficiency over the admitted rounds
    on record for `pair`. With none admitted, publish NO efficiency — a
    median over quota-rejected rounds measures the host's ceiling, not
    the plan."""
    eff = [r["efficiency"] for r in _ledger_admitted(pair)]
    return {
        "pair": pair,
        "efficiency": round(statistics.median(eff), 3) if eff else None,
        "efficiency_stat": ("median(admitted, cross-run ledger)" if eff
                            else "no admitted rounds on record"),
        "capacity_min": CAPACITY_MIN,
        "admitted_efficiencies": eff,
    }


def main() -> None:
    from org_dharts_dia_tesseract_spark.queries import spark_queries
    from org_dharts_dia_tesseract_spark.session import get_spark

    spark = get_spark(f"local[{CPUS}]", app_name="dia-bench",
                      shuffle_partitions=CPUS)
    n_docs = _n_docs(spark)
    docs_path, media_path = _corpus_paths(spark, n_docs)

    elapsed, n_spans = _run_flagship(spark, docs_path, media_path)
    queries = {"ocr_extract_spans": round(elapsed, 3)}
    single = _single_process_baseline()
    qs = spark_queries()
    for name in ("tpch_pricing_rollup", "dedup_exact", "minhash_lsh_pairs",
                 "simhash32", "events_sessionize", "similarity_topk_cosine",
                 "quality_score", "topk_orders_per_customer",
                 "tpch_q3_shipping_priority", "sql_tpch_q6_forecast_revenue",
                 "ivf_topk_probe_all", "html_boilerplate_strip"):
        t = time.time()
        qs[name](spark, SF_DIR).count()
        queries[name] = round(time.time() - t, 3)
    spark.stop()

    result = {
        "metric": "total_headline_seconds",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": _sf_label(SF_DIR),
        "n_docs": n_docs,
        "n_spans": n_spans,
        "ocr_docs_per_sec": round(n_docs / elapsed, 2),
        "single_process_baseline": single,
        "scaling": _ledger_scaling(PAIR),
    }
    _write_bench_md(result)
    # the line stays short: the driver keeps only a bounded stdout tail
    print(json.dumps(result))


def _write_bench_md(result: dict) -> None:
    sc = result["scaling"]
    base = result["single_process_baseline"]["docs_per_sec_1core"]
    lines = [
        "# BENCH — measured results (latest run)",
        "",
        f"- input: sf{result['sf']} ({result['n_docs']} docs -> "
        f"{result['n_spans']} spans)",
        f"- flagship OCR-span extraction: "
        f"**{result['ocr_docs_per_sec']} docs/sec** on local[{CPUS}] "
        f"({result['queries']['ocr_extract_spans']} s)",
        f"- single-process oracle baseline (the reference-wrapper analog — "
        f"the reference itself publishes no numbers): {base} docs/sec on "
        f"1 core -> distributed beats single-node by "
        f"**{result['ocr_docs_per_sec'] / base:.1f}x** at equal data",
        "",
        "## Headline query times (sec)",
        "",
    ]
    lines += [f"- {k}: {v}" for k, v in result["queries"].items()]
    lo, hi = sc["pair"]
    adm = sorted(sc["admitted_efficiencies"])
    lines += [
        "",
        f"## Scaling ({lo} vs {hi}, same input; "
        "closed ledger BENCH_scaling_attempts.jsonl)",
        "",
        f"- rounds admitted by the pre-registered >= "
        f"{sc['capacity_min']}x capacity rule: {len(adm)}",
    ]
    if adm:
        lines.append(
            f"- scaling efficiency (thr_4N/thr_N)/4: median "
            f"**{sc['efficiency']:.3f}**, min {adm[0]:.3f}, max "
            f"{adm[-1]:.3f}, n={len(adm)} (>= 0.8 in "
            f"{sum(1 for e in adm if e >= 0.8)}/{len(adm)})")
    os.makedirs(os.path.dirname(REPORT), exist_ok=True)
    with open(REPORT, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
