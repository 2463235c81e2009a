"""Per-layer probes for the traced run.

``kernel_probe`` runs the pure-Python kernel in this process, on one
core, over a sample of the workload's pages, twice: once plain (for
``kernel.pages_per_s``) and once through observational shims (a counting
memo dict and wrappers on the recognizer instance's ``recognize`` and
``collect_matches``) that split the time into matcher, DFS and other
work. The shimmed run must return exactly the plain run's triples.

``operator_probes`` times the Arrow/``mapInPandas`` boundary alone (an
identity map), the extraction operator alone and the dedup shuffle
alone, each into Spark's ``noop`` sink.
"""

from __future__ import annotations

import statistics
import time
from typing import Dict, List, Tuple

from probes import Tracer


class CountingMemo(dict):
    """A chunk memo that counts probes and hits. The kernel probes its
    memo with ``get`` and treats any non-None value as a hit."""

    def __init__(self):
        super().__init__()
        self.probes = 0
        self.hits = 0

    def get(self, key, default=None):
        value = dict.get(self, key, default)
        self.probes += 1
        if value is not None:
            self.hits += 1
        return value


def instrument(rec, tracer: Tracer) -> Dict[str, int]:
    """Wrap ``rec.recognize`` and ``rec.collect_matches`` on the instance
    (``recognize`` calls ``self.collect_matches``, so it reaches the
    wrapper). Returns live call and match counters."""
    counts = {"recognize": 0, "collect": 0, "matches": 0}
    collect, recognize = rec.collect_matches, rec.recognize

    def collect_matches(statement):
        with tracer.span("kernel.collect_matches"):
            bag = collect(statement)
        counts["collect"] += 1
        counts["matches"] += len(bag.matches)
        return bag

    def recognize_wrapped(statement, handler, match_filter=None):
        counts["recognize"] += 1
        with tracer.span("kernel.recognize"):
            recognize(statement, handler, match_filter)

    rec.collect_matches = collect_matches
    rec.recognize = recognize_wrapped
    return counts


def kernel_triples(pages, specs, options):
    """Single-process reference: ``[(url, triples)]`` for ``pages``
    with one caller-owned memo for the whole sample."""
    from nlquery_spark.kernel.extract import (
        build_prescreen,
        build_recognizer,
        extract_text_triples,
    )

    rec = build_recognizer(specs, options)
    screen = build_prescreen(specs, options)
    memo: dict = {}
    return [(url, extract_text_triples(text, rec, prescreen=screen, memo=memo))
            for url, text in pages]


def kernel_probe(pages: List[Tuple[str, str]], specs, options,
                 tracer: Tracer) -> Tuple[Dict[str, float], bool]:
    """Kernel layer metrics over ``pages`` [(url, text)], and whether the
    shimmed run returned exactly the plain run's triples."""
    from nlquery_spark.kernel.extract import (
        build_prescreen,
        build_recognizer,
        extract_text_triples,
    )

    compiles, recs = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        recs.append(build_recognizer(specs, options))
        screen = build_prescreen(specs, options)
        compiles.append(time.perf_counter() - t0)

    memo: dict = {}
    t0 = time.perf_counter()
    plain = [extract_text_triples(text, recs[1], prescreen=screen, memo=memo)
             for _url, text in pages]
    plain_s = time.perf_counter() - t0

    rec = recs[2]
    counts = instrument(rec, tracer)
    cmemo = CountingMemo()
    shimmed = []
    with tracer.span("kernel") as root:
        for _url, text in pages:
            with tracer.span("kernel.extract_text_triples"):
                shimmed.append(extract_text_triples(
                    text, rec, prescreen=screen, memo=cmemo))
    self_s = tracer.self_times(root.sid)
    misses = cmemo.probes - cmemo.hits
    metrics = {
        "kernel.pages_per_s": len(pages) / plain_s,
        "kernel.compile_s": statistics.median(compiles),
        "kernel.collect_matches_s": self_s.get("kernel.collect_matches", 0.0),
        "kernel.dfs_s": self_s.get("kernel.recognize", 0.0),
        "kernel.other_s": self_s.get("kernel.extract_text_triples", 0.0),
        "kernel.recognize_calls": counts["recognize"],
        "kernel.matches_per_call": counts["matches"] / max(counts["collect"], 1),
        "kernel.memo_hit_ratio": cmemo.hits / max(cmemo.probes, 1),
        "kernel.recognize_ratio": counts["recognize"] / max(misses, 1),
    }
    return metrics, shimmed == plain


def operator_probes(df, specs, options, tracer: Tracer) -> Dict[str, float]:
    """Seconds for: identity ``mapInPandas`` over the pages the extractor
    reads, ``extract_triples`` alone, and ``dedup_triples`` over
    persisted triples, each written to the ``noop`` sink."""
    from pyspark.sql import functions as F

    from nlquery_spark.operators.extract import dedup_triples, extract_triples

    def timed(name, out_df) -> float:
        with tracer.span(name):
            t0 = time.perf_counter()
            out_df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    en = df.filter(F.col("lang") == "en").select("url", "text")
    out = {
        "operators.extract.identity_s": timed(
            "operators.extract.identity", en.mapInPandas(lambda it: it, en.schema)),
        "operators.extract.map_s": timed(
            "operators.extract.map", extract_triples(df, specs, options)),
    }
    triples = extract_triples(df, specs, options).persist()
    triples.count()
    out["operators.extract.dedup_s"] = timed(
        "operators.extract.dedup", dedup_triples(triples))
    triples.unpersist()
    return out
