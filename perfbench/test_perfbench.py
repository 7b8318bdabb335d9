"""Self-tests of the benchmark at tiny size.

    python3 -m pytest perfbench -q

The pools and inputs go to a temporary cache; a whole run takes about two
minutes on 4 cores, most of it Spark start-up.
"""

from __future__ import annotations

import filecmp
import json
import os

import pytest

import corpus
import harness
import layers
import run
import workloads

BENCHMARK = os.path.join(corpus.ROOT, "BENCHMARK.json")


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """Tiny pools in a temporary cache, tiny workloads, one set-up."""
    mp = pytest.MonkeyPatch()
    cache = str(tmp_path_factory.mktemp("cache"))
    mp.setattr(corpus, "CACHE", cache)
    mp.setattr(corpus, "RAW_POOL_PAGES", 40)
    mp.setattr(corpus, "CODEC_POOL_PAGES", 16)
    for cls, pages, files in ((workloads.SpansRaw, 12, 4),
                              (workloads.HocrCodecs, 16, 2)):
        mp.setattr(cls, "pages", pages)
        mp.setattr(cls, "files", files)
    mp.setattr(layers, "CHECKPOINT",
               {**layers.CHECKPOINT, "pages": 8, "files": 2})
    mp.setattr(layers, "SPLIT_PAGES", 8)
    mp.setattr(layers, "CODEC_PAGES", 1)
    mp.setattr(harness, "MIN_PASSES", 1)
    mp.setattr(run, "SETUPS", 1)
    corpus.set_env()
    corpus.build_raw_pool()
    corpus.build_codec_pool()
    yield cache
    mp.undo()


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, _, names in os.walk(root) for n in names)


def test_same_seed_gives_byte_identical_inputs(tiny):
    first = corpus.materialize("codec", 3, 16, 2)
    copy = first + ".copy"
    os.rename(first, copy)
    again = corpus.materialize("codec", 3, 16, 2)
    assert _files(copy) == _files(again)
    _, mismatch, errors = filecmp.cmpfiles(copy, again, _files(copy),
                                           shallow=False)
    assert not mismatch and not errors
    other = corpus.materialize("codec", 4, 16, 2)
    with open(os.path.join(again, "expected.json")) as a, \
            open(os.path.join(other, "expected.json")) as b:
        assert json.load(a)["codec_of"] != json.load(b)["codec_of"]


def test_inputs_have_exact_pages_and_balanced_codecs(tiny):
    inp = workloads.Inputs.load(corpus.materialize("codec", 5, 16, 2))
    codecs = list(inp.expected["codec_of"].values())
    assert len(codecs) == inp.expected["n_pages"] == 16
    assert sorted(codecs) == sorted(list(corpus.CODECS) * 2)


def _main(capsys, *argv) -> dict:
    assert run.main(list(argv)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _declared(kind: str) -> dict[str, str]:
    with open(BENCHMARK) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_emitted_with_its_unit(tiny, capsys, trace, kind):
    out = _main(capsys, "--workload", "spans_raw", "--seed", "1",
                "--seconds", "0", "--trace", str(trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == _declared(kind)
    assert all(isinstance(v["value"], (int, float))
               for v in out["metrics"].values())


def test_per_layer_table_matches_benchmark_json():
    with open(BENCHMARK) as f:
        declared = [(m["name"], m["unit"], m["better"])
                    for m in json.load(f)["per_layer"]]
    assert declared == [(k, u, b) for k, (u, b) in layers.PER_LAYER.items()]


def test_workloads_match_benchmark_json():
    with open(BENCHMARK) as f:
        declared = {w["name"]: w["why"] for w in json.load(f)["workloads"]}
    assert declared == {k: w.why for k, w in workloads.WORKLOADS.items()}


def _spans(spark, inp) -> list[dict]:
    from org_dharts_dia_tesseract_spark.operators import extract_spans
    return [r.asDict() for r in extract_spans(*inp.frames(spark)).collect()]


@pytest.mark.parametrize("perturb", ["drop_one_span", "change_one_text",
                                     "swap_two_seqs"])
def test_perturbed_output_fails_the_check(tiny, perturb):
    inp = workloads.Inputs.load(corpus.materialize("raw", 2, 12, 4))
    spark = harness.session()
    try:
        rows = _spans(spark, inp)
    finally:
        spark.stop()
    assert workloads.span_problems(rows, inp.expected) == []
    text = next(i for i, r in enumerate(rows) if r["text"])
    if perturb == "drop_one_span":
        del rows[text]
    elif perturb == "change_one_text":
        rows[text]["text"] += "x"
    else:
        by_doc: dict[str, list[int]] = {}
        for i, r in enumerate(rows):
            by_doc.setdefault(r["doc_id"], []).append(i)
        a, b = next(ix for ix in by_doc.values() if len(ix) >= 2)[:2]
        rows[a]["seq"], rows[b]["seq"] = rows[b]["seq"], rows[a]["seq"]
    assert workloads.span_problems(rows, inp.expected)


def test_changed_hierarchy_fails_the_check(tiny):
    spark = harness.session()
    try:
        wl = workloads.HocrCodecs()
        inp = wl.inputs(2)
        assert wl.prepare(spark, inp) == []
        inp.expected["hier"][0] += 1
        assert wl.prepare(spark, inp)
    finally:
        spark.stop()
