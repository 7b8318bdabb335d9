"""bench.py reads the N-vs-4N scaling ledger through one admission rule
(bench._ledger_admitted); its report renders the JSON summary's scaling
fields and does not read the ledger again."""

from __future__ import annotations

import json

import bench

PAIR = ["local[2]", "local[8]"]


def test_null_capacity_row_is_not_admitted(tmp_path, monkeypatch):
    ledger = tmp_path / "ledger.jsonl"
    rows = [
        {"pair": PAIR, "scale_docs": 40000, "capacity": 3.9,
         "efficiency": 0.9},
        # a round whose post-probe never ran: measured, capacity unknown
        {"pair": PAIR, "scale_docs": 40000, "capacity": None,
         "efficiency": 0.5},
        {"pair": PAIR, "scale_docs": 40000, "capacity_pre": 2.0,
         "gated": True},
    ]
    ledger.write_text("".join(json.dumps(r) + "\n" for r in rows))
    report = tmp_path / "BENCH_latest.md"
    monkeypatch.setattr(bench, "LEDGER", str(ledger))
    monkeypatch.setattr(bench, "REPORT", str(report), raising=False)
    monkeypatch.setattr(bench, "SCALE_DOCS", 40000)
    monkeypatch.setattr(bench, "CAPACITY_MIN", 3.5)

    scaling = bench._ledger_scaling(PAIR)
    assert scaling["efficiency"] == 0.9
    assert scaling["admitted_efficiencies"] == [0.9]
    result = {
        "sf": "0.01", "n_docs": 500, "n_spans": 2856,
        "ocr_docs_per_sec": 100.0, "queries": {"ocr_extract_spans": 5.0},
        "single_process_baseline": {"docs_per_sec_1core": 50.0},
        "scaling": scaling,
    }
    bench._write_bench_md(result)
    text = report.read_text()
    assert "capacity rule: 1" in text
    assert "median **0.900**" in text and "n=1" in text


def test_committed_ledger_reading():
    """The committed ledger, read with bench.py's own constants, gives
    the settled N-vs-4N answer: median 0.929 over 22 admitted rounds."""
    scaling = bench._ledger_scaling(bench.PAIR)
    eff = scaling["admitted_efficiencies"]
    assert scaling["efficiency"] == 0.929
    assert scaling["capacity_min"] == 3.5
    assert len(eff) == 22
    assert sum(1 for e in eff if e >= 0.8) == 18
