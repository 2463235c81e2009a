"""Tests of the benchmark's own parts; no Spark session is started.

    python -m pytest perfbench -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from layers import CountingMemo, kernel_probe  # noqa: E402
from probes import Tracer  # noqa: E402
from workloads import (  # noqa: E402
    GAZETTEER_OPTIONS,
    ORDERS_SPEC,
    gazetteer_pages,
    gazetteer_spec,
    make_workload,
    page_hash,
    web_pages,
)


def test_same_seed_same_pages_other_seed_other_pages():
    for name in run.WORKLOADS:
        first = page_hash(make_workload(name, 7, 4).pages)
        assert page_hash(make_workload(name, 7, 4).pages) == first
        assert page_hash(make_workload(name, 8, 4).pages) != first


def test_gazetteer_sentences_are_distinct():
    titles = gazetteer_spec()["columns"][0]["values"]
    assert len(set(titles)) == len(titles) == 10_000
    pages = gazetteer_pages(3, 200, titles)
    sentences = [s for _u, text, _l in pages for s in text.split(". ")]
    assert len(sentences) == 3 * 200
    assert len(set(sentences)) == len(sentences)
    # titles that repeat a word stay in the dictionary but are never named
    repeated = {t[: t.index(" (")] for t in titles
                if len(set(t[: t.index(" (")].split())) == 1}
    assert repeated
    assert not any(name in s for s in sentences for name in repeated)


def test_web_pages_mix_languages_and_repeat_chunks():
    pages = web_pages(5, 2000)
    langs = {lang for _u, _t, lang in pages}
    assert langs == {"en", "de", "fr"}
    sentences = [s for _u, text, _l in pages for s in text.split(". ")]
    assert len(set(sentences)) < len(sentences)


def _probe(pages, specs, options):
    tracer = Tracer("test", enabled=True)
    metrics, same = kernel_probe(pages, specs, options, tracer)
    return metrics, same


def test_kernel_shims_are_observational_on_web_pages():
    pages = [(u, t) for u, t, lang in web_pages(11, 300) if lang == "en"]
    metrics, same = _probe(pages, [ORDERS_SPEC], None)
    assert same
    # the shims saw the work they wrap
    assert metrics["kernel.recognize_calls"] > 0
    assert metrics["kernel.matches_per_call"] > 0
    assert 0 < metrics["kernel.memo_hit_ratio"] < 1
    assert metrics["kernel.collect_matches_s"] > 0


def test_kernel_shims_are_observational_on_gazetteer_pages():
    spec = gazetteer_spec()
    pages = [(u, t) for u, t, _l in
             gazetteer_pages(11, 3, spec["columns"][0]["values"])]
    metrics, same = _probe(pages, [spec], GAZETTEER_OPTIONS)
    assert same
    assert metrics["kernel.memo_hit_ratio"] == 0
    assert metrics["kernel.recognize_calls"] == 9


def test_counting_memo_counts_hits():
    memo = CountingMemo()
    assert memo.get("a") is None
    memo["a"] = ()
    assert memo.get("a") == ()
    assert (memo.probes, memo.hits) == (2, 1)


def test_self_time_subtracts_children():
    tracer = Tracer("t", enabled=True)
    root = tracer.open("root")
    child = tracer.open("child")
    tracer.close(child)
    tracer.close(root)
    tracer.spans[root].update(start=0.0, end=10.0)
    tracer.spans[child].update(start=2.0, end=5.0)
    assert tracer.self_times() == {"root": 7.0, "child": 3.0}
    off = Tracer("t", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
