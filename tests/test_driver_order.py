"""The driver checks the first 50 entries of __spark_entry__.queries()
per round; _driver_order derives that order from the correctness
records so every gate stays fresh."""

from __future__ import annotations

import __spark_entry__ as e

WINDOW = 50
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "err": None}


def _record(*names: str) -> dict:
    return {n: dict(GREEN) for n in names}


def test_no_records_is_registry_order():
    names = ["a", "b", "ocr_extract_spans", "c"]
    assert e._driver_order(names, []) == ["ocr_extract_spans", "a", "b", "c"]


def test_never_green_first_then_oldest_green():
    names = ["r2", "r1", "never", "r0", "ocr_extract_spans"]
    records = [_record("r0", "r1", "r2", "ocr_extract_spans"),
               _record("r1", "r2"), _record("r2")]
    assert e._driver_order(names, records) == [
        "ocr_extract_spans", "never", "r0", "r1", "r2"]


def test_failed_last_row_counts_as_stale():
    names = ["ok", "err", "mismatch", "ocr_extract_spans"]
    records = [_record(*names),
               {**_record("ok", "ocr_extract_spans"),
                "err": {**GREEN, "err": "Py4JJavaError: boom"},
                "mismatch": {**GREEN, "hash_match": False}}]
    assert e._driver_order(names, records) == [
        "ocr_extract_spans", "err", "mismatch", "ok"]
    # a gate that has only ever failed is never green
    only_bad = [{"bad": {**GREEN, "rows_match": False}}, _record("ok")]
    assert e._driver_order(["ok", "bad"], only_bad) == ["bad", "ok"]


def test_pinned_head_first_and_every_name_once():
    names = [f"g{i:03d}" for i in range(108)] + ["ocr_extract_spans"]
    records = [_record(*names[::3]), _record(*names[1::2])]
    order = e._driver_order(names, records)
    assert order[0] == "ocr_extract_spans"
    assert sorted(order) == sorted(names)


def test_rotation_checks_every_gate_within_three_rounds():
    """Feed each round's 50-entry window back as the next round's record:
    over the 109 registry names every gate is checked in any 3
    consecutive rounds, from no records and from the committed ones."""
    names = list(e.queries())
    for records in ([], e._correctness_records()):
        records = list(records)
        windows = []
        for _ in range(12):
            window = e._driver_order(names, records)[:WINDOW]
            windows.append(set(window))
            records.append(_record(*window))
        for i in range(len(windows) - 2):
            assert windows[i] | windows[i + 1] | windows[i + 2] == set(names)


def test_committed_records_put_stale_gates_in_window():
    """Rounds 1-5 on record: 3 gates never checked and 9 last green in
    round 3 must all sit inside the first window."""
    records = e._correctness_records()[:5]
    assert len(records) == 5
    names = list(e.queries())
    window = e._driver_order(names, records)[:WINDOW]
    assert window[0] == "ocr_extract_spans"
    never = {"semdedup_indexed", "bloom_novel_docs",
             "stratified_sample_docs"}
    assert not any(n in r for r in records for n in never)
    r3_last = {n for n in names if n in records[2]
               and not any(n in r for r in records[3:])}
    assert len(r3_last) == 9
    assert never | r3_last <= set(window)
