#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload web_extract --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. Starts a ``local[nproc]`` session through
``plans.session.get_spark``, generates the workload's pages from the
seed (``workloads.py``), caches them, runs untimed warm-up passes of
the same workload, then runs closed-loop timed passes until
``--seconds`` have elapsed. Every pass is checked against the first
warm-up pass (row counts and an order-insensitive content hash), and a
page sample is checked against the single-process kernel.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (see README.md). The line before it is the run
report: run stamp, set-up parts, pass times and error rate.
Scratch files, checkpoints and the per-run report (spans included) go
under ``.perfbench_run/`` in the repository root.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (HERE, ROOT):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from probes import (  # noqa: E402
    ProcSampler,
    Tracer,
    descendants,
    group_metrics,
    jvm_gc_seconds,
    loadavg,
    tree_mb,
)
from workloads import make_workload, page_hash  # noqa: E402

WORKLOADS = ("web_extract", "gazetteer_extract")
# passes keep getting faster for the first ~6 in a session (JIT on both
# sides of the Arrow boundary): 2.6-2.9 s, then 2.0-2.3 s on web_extract;
# gazetteer passes carry 192 short rows and mostly run the kernel
WARMUP_PASSES = {"web_extract": 6, "gazetteer_extract": 4}
SAMPLE_PAGES = {"web_extract": 64, "gazetteer_extract": 8}
KERNEL_PAGES = {"web_extract": 1000, "gazetteer_extract": 16}
PIPELINE_PAGES = {"web_extract": 1000, "gazetteer_extract": 64}
KG_STAGES = ("extract", "dedup", "canonical", "graph", "linkpred")

END_TO_END = {"setup_s": "s", "pages_per_s": "1/s", "worker_rss_mb": "MB"}
PER_LAYER = {
    "kernel.pages_per_s": "1/s",
    "kernel.compile_s": "s",
    "kernel.collect_matches_s": "s",
    "kernel.dfs_s": "s",
    "kernel.other_s": "s",
    "kernel.recognize_calls": "count",
    "kernel.matches_per_call": "count",
    "kernel.memo_hit_ratio": "1",
    "kernel.recognize_ratio": "1",
    "operators.extract.identity_s": "s",
    "operators.extract.map_s": "s",
    "operators.extract.dedup_s": "s",
    "operators.extract.self_s": "s",
    "host.python_cpu_s": "s",
    "host.jvm_cpu_s": "s",
    "host.python_busy_ratio": "1",
    "host.python_workers": "count",
    "host.loadavg_start": "1",
    "host.loadavg_end": "1",
    "spark.task_s_p50": "s",
    "spark.task_s_max": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    **{f"plans.pipeline.{st}.{m}": u for st in KG_STAGES for m, u in (
        ("wall_s", "s"), ("shuffle_mb", "MB"), ("gc_s", "s"),
        ("checkpoint_mb", "MB"), ("rows", "count"))},
    "plans.pipeline.pages_per_s": "1/s",
    "plans.pipeline.checkpoint_mb": "MB",
    "plans.pipeline.self_s": "s",
    "plans.session.start_s": "s",
    "sources.gen_s": "s",
    "warmup.first_pass_s": "s",
    "trace.overhead_pages_per_s": "1/s",
}


def run_stamp(cores: int) -> dict:
    """What a reader needs to tell a noisy-neighbour run from a
    regression: the box, its load, and the code and library versions."""
    import pyarrow
    import pyspark

    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        proc = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, check=False)
        commit = proc.stdout.strip() or None
    digest = hashlib.sha256()
    lib = os.path.join(ROOT, "nlquery_spark")
    for dirpath, dirnames, files in os.walk(lib):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    digest.update(name.encode() + b"\0" + f.read())
    return {
        "nproc": cores,
        "loadavg_start": loadavg(),
        "git_commit": commit,
        "source_sha256": digest.hexdigest()[:16],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def _describe(exc: BaseException) -> str:
    try:
        return repr(exc)[:500]
    except Exception:  # some captured Spark errors fail to format
        return type(exc).__name__


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _sample(pages, n):
    """``n`` pages spread evenly over ``pages``."""
    return pages[:: max(1, len(pages) // n)][:n]


class Bench:
    def __init__(self, args, run_dir: str, cores: int):
        self.args = args
        self.name = args.workload
        self.run_dir = run_dir
        self.cores = cores
        self.tracer = Tracer(f"{self.name}-{args.seed}-{os.getpid()}", bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.failures = []
        self.metrics = {}
        self.spark = None
        self.sampler = None
        self.passes = []  # (seconds, span id or None, job group)
        self.n_pages = 0
        self.page_sha256 = None
        self.window_workers = 0

    # ------------------------------------------------------------ setup --

    def start_session(self) -> None:
        from nlquery_spark.plans.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        with self.tracer.span("plans.session"):
            t0 = time.perf_counter()
            self.spark = get_spark(
                f"perfbench-{self.name}",
                master=f"local[{self.cores}]",
                shuffle_partitions=max(self.cores, 8),
                extra_conf={
                    "spark.driver.memory": "2g",
                    "spark.local.dir": tmp,
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                    "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.metrics["plans.session.start_s"] = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm = self.sc._gateway.proc
        self.sampler = ProcSampler(self.jvm.pid)
        self.sampler.start()

    def make_inputs(self) -> None:
        import pandas as pd

        with self.tracer.span("sources"):
            t0 = time.perf_counter()
            self.wl = make_workload(self.name, self.args.seed, self.cores)
            pdf = pd.DataFrame(self.wl.pages, columns=["url", "text", "lang"])
            self.df = (self.spark.createDataFrame(pdf)
                       .repartition(self.wl.partitions).cache())
            self.n_pages = self.df.count()
            self.metrics["sources.gen_s"] = time.perf_counter() - t0
        self.page_sha256 = page_hash(self.wl.pages)

    def warmup(self) -> None:
        with self.tracer.span("warmup"):
            for i in range(WARMUP_PASSES[self.name]):
                seconds, result = self.run_pass(f"warmup{i}")
                if i == 0:
                    self.expected = result
                    self.metrics["warmup.first_pass_s"] = seconds
                else:
                    self.check_pass(result)

    # ----------------------------------------------------------- passes --

    def run_pass(self, group: str):
        """One pass: extract -> dedup -> count and content hash. Returns
        (seconds, checkable result)."""
        from pyspark.sql import functions as F

        from nlquery_spark.operators.extract import dedup_triples, extract_triples

        self.sc.setJobGroup(group, group)
        with self.tracer.span("operators.extract"):
            t0 = time.perf_counter()
            triples = dedup_triples(
                extract_triples(self.df, self.wl.specs, self.wl.options))
            row = triples.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*sorted(triples.columns))
                      .cast("decimal(38,0)")).alias("h"),
            ).first()
            seconds = time.perf_counter() - t0
        return seconds, {"rows": row["n"], "hash": str(row["h"])}

    def check_pass(self, result) -> bool:
        self.attempted += 1
        if result != self.expected:
            self.failed += 1
            self.failures.append({"expected": self.expected, "got": result})
            return False
        return True

    def timed(self) -> None:
        """Closed loop: the next pass starts when the previous one ends,
        until ``--seconds`` have elapsed. In the traced run, passes
        alternate between tracing on and off, at least one of each."""
        min_passes = 2 if self.args.trace else 1
        traced = self.tracer.enabled
        cpu0 = self.sampler.cpu_seconds()
        gc0 = jvm_gc_seconds(self.sc)
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < self.args.seconds or i < min_passes:
            self.tracer.enabled = traced and i % 2 == 0
            group = f"pass{i}"
            try:
                with self.tracer.span("pass") as span:
                    seconds, result = self.run_pass(group)
            except Exception as exc:  # a failed pass is counted, not fatal
                self.attempted += 1
                self.failed += 1
                self.failures.append({"pass": i, "error": _describe(exc)})
            else:
                if self.check_pass(result):
                    self.passes.append((seconds, span.sid, group))
            i += 1
        self.attempted_in_window = i
        self.tracer.enabled = traced
        self.window_s = time.perf_counter() - t0
        self.cpu = {k: v - cpu0[k] for k, v in self.sampler.cpu_seconds().items()}
        self.gc_s = jvm_gc_seconds(self.sc) - gc0
        self.sampler.stop()
        self.window_workers = len(self.sampler.worker_pids)

    # ------------------------------------------------------ correctness --

    def check_sample(self, sample, extracted, deduped) -> None:
        """``extracted``/``deduped`` (Spark triples for the pages in
        ``sample``, before and after dedup) equal the single-process
        kernel's output and its aggregation."""
        from layers import kernel_triples

        cols = ["subj", "pred", "obj", "score", "start", "end", "rule"]
        got = sorted(tuple(r) for r in extracted.select(*cols).collect())
        dcols = ["subj", "pred", "obj", "score", "support", "start", "end", "rule"]
        got_dedup = sorted(tuple(r) for r in deduped.select(*dcols).collect())

        ref = kernel_triples([(u, t) for u, t, lang in sample if lang == "en"],
                             self.wl.specs, self.wl.options)
        want = sorted((u, *t) for u, triples in ref for t in triples)
        agg = defaultdict(list)
        for u, p, o, score, start, end, rule in want:
            agg[(u, p, o)].append((score, start, end, rule))
        want_dedup = sorted(
            (*k, max(v[0] for v in vs), len(vs), min(v[1] for v in vs),
             min(v[2] for v in vs), min(v[3] for v in vs))
            for k, vs in agg.items())
        self.attempted += 1
        if got != want or got_dedup != want_dedup:
            self.failed += 1
            self.failures.append({"sample_check": "spark triples differ from the kernel"})

    def check_extract_sample(self) -> None:
        from pyspark.sql import functions as F

        from nlquery_spark.operators.extract import dedup_triples, extract_triples

        sample = _sample(self.wl.pages, SAMPLE_PAGES[self.name])
        urls = [u for u, _t, _l in sample]
        self.sc.setJobGroup("check", "check")
        extracted = extract_triples(self.df.filter(F.col("url").isin(urls)),
                                    self.wl.specs, self.wl.options)
        self.check_sample(sample, extracted, dedup_triples(extracted))

    # ------------------------------------------------------- pipeline --

    def pipeline_pass(self, df, group: str) -> dict:
        """``Pipeline.run`` of ``kg_pipeline`` into a fresh workdir. Each
        stage's fn is wrapped to open its span and job group; a stage's
        jobs run after its fn returns (checkpoint write, read-back,
        metrics, count), so both stay open until the next stage starts."""
        from pyspark.sql import functions as F

        from nlquery_spark.plans.pipeline import Pipeline, Stage, kg_pipeline

        workdir = os.path.join(self.run_dir, "kg", group)
        open_stage = []
        gc_marks = []  # (stage, JVM GC seconds when it started)

        def wrap(stage):
            def fn(spark, ctx):
                self.tracer.close(open_stage.pop() if open_stage else None)
                gc_marks.append((stage.name, jvm_gc_seconds(self.sc)))
                self.sc.setJobGroup(f"{group}/{stage.name}", stage.name)
                open_stage.append(self.tracer.open(f"plans.pipeline.{stage.name}"))
                return stage.fn(spark, ctx)
            return Stage(stage.name, fn, stage.partition_by)

        stages = [wrap(s) for s in kg_pipeline(workdir, self.wl.specs, self.wl.options)]
        with self.tracer.span("plans.pipeline") as span:
            t0 = time.perf_counter()
            pipe = Pipeline(self.spark, workdir, stages)
            ctx = pipe.run({"pages": df})
            seconds = time.perf_counter() - t0
            self.tracer.close(open_stage.pop() if open_stage else None)
        gc_marks.append((None, jvm_gc_seconds(self.sc)))
        self.sc.setJobGroup("check", "check")
        canonical = ctx["canonical"]
        h = canonical.agg(F.sum(F.xxhash64(*sorted(canonical.columns))
                                .cast("decimal(38,0)")).alias("h")).first()["h"]
        return {
            "seconds": seconds, "span": span.sid, "workdir": workdir,
            "hash": str(h), "report": {r["stage"]: r for r in pipe.report},
            "gc_s": {name: end - start for (name, start), (_n, end)
                     in zip(gc_marks, gc_marks[1:])},
        }

    def pipeline_probe(self) -> None:
        """Two pipeline passes over a page subset: the first warms up,
        the second is measured. Stage row counts and the canonical
        content hash must agree, and the measured pass's extract and
        dedup checkpoints must match the kernel on a page sample."""
        import pandas as pd
        from pyspark.sql import functions as F

        pages = self.wl.pages[: PIPELINE_PAGES[self.name]]
        df = (self.spark.createDataFrame(
            pd.DataFrame(pages, columns=["url", "text", "lang"]))
            .repartition(self.wl.partitions).cache())
        df.count()
        first = self.pipeline_pass(df, "pipe0")
        shutil.rmtree(first["workdir"], ignore_errors=True)
        run = self.pipeline_pass(df, "pipe1")
        df.unpersist()

        def rows(p):
            return {st: r["rows"] for st, r in p["report"].items()}, p["hash"]
        self.attempted += 1
        if rows(run) != rows(first):
            self.failed += 1
            self.failures.append({"pipeline": [rows(first), rows(run)]})

        sample = _sample(pages, SAMPLE_PAGES[self.name])
        urls = [u for u, _t, _l in sample]

        def checkpoint(stage):
            return (self.spark.read.parquet(os.path.join(run["workdir"], stage))
                    .filter(F.col("subj").isin(urls)))
        self.check_sample(sample, checkpoint("extract"), checkpoint("dedup"))

        m = self.metrics
        for st in KG_STAGES:
            grp = group_metrics(self.sc, f"pipe1/{st}")
            m[f"plans.pipeline.{st}.wall_s"] = run["report"][st]["wall_sec"]
            m[f"plans.pipeline.{st}.rows"] = run["report"][st]["rows"]
            m[f"plans.pipeline.{st}.checkpoint_mb"] = tree_mb(
                os.path.join(run["workdir"], st))
            m[f"plans.pipeline.{st}.shuffle_mb"] = grp["shuffle_write_mb"]
            m[f"plans.pipeline.{st}.gc_s"] = run["gc_s"][st]
        m["plans.pipeline.pages_per_s"] = len(pages) / run["seconds"]
        m["plans.pipeline.checkpoint_mb"] = tree_mb(run["workdir"])
        m["plans.pipeline.self_s"] = self.tracer.self_times(run["span"]).get(
            "plans.pipeline", 0.0)

    # ----------------------------------------------------- traced layers --

    def layer_metrics(self) -> None:
        from layers import kernel_probe, operator_probes

        m = self.metrics
        pages = [(u, t) for u, t, lang in self.wl.pages if lang == "en"]
        kmetrics, same = kernel_probe(pages[: KERNEL_PAGES[self.name]],
                                      self.wl.specs, self.wl.options, self.tracer)
        m.update(kmetrics)
        self.attempted += 1
        if not same:
            self.failed += 1
            self.failures.append({"kernel_shims": "shimmed kernel output differs"})
        self.sc.setJobGroup("probe", "probe")
        m.update(operator_probes(self.df, self.wl.specs, self.wl.options, self.tracer))

        per_pass = [group_metrics(self.sc, g) for _s, _sid, g in self.passes]
        tasks = sorted(t for p in per_pass for t in p["task_s"])
        m["spark.task_s_p50"] = _median(tasks)
        m["spark.task_s_max"] = tasks[-1] if tasks else 0.0
        for key in ("shuffle_write_mb", "spill_mb"):
            m[f"spark.{key}"] = _median([p[key] for p in per_pass])

        n_passes = max(self.attempted_in_window, 1)
        m["spark.gc_s"] = self.gc_s / n_passes
        m["host.python_cpu_s"] = self.cpu["python"] / n_passes
        m["host.jvm_cpu_s"] = self.cpu["jvm"] / n_passes
        m["host.python_busy_ratio"] = self.cpu["python"] / (self.window_s * self.cores)
        m["host.python_workers"] = self.window_workers

        traced = [(s, sid) for s, sid, _g in self.passes if sid is not None]
        m["operators.extract.self_s"] = _median([
            self.tracer.self_times(sid).get("operators.extract", 0.0)
            for _s, sid in traced])
        on = [self.n_pages / s for s, _sid in traced]
        off = [self.n_pages / s for s, sid, _g in self.passes if sid is None]
        m["trace.overhead_pages_per_s"] = _median(off) - _median(on)

        self.pipeline_probe()

    # --------------------------------------------------------- shutdown --

    def shutdown(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker it
        started have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        if self.sampler is not None:
            self.sampler.stop()
        workers = descendants(self.jvm.pid)
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.jvm.stdin.close()  # the JVM exits on end of input
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)
        self.spark = None

    # -------------------------------------------------------------- run --

    def run(self) -> dict:
        self.start_session()
        self.make_inputs()
        self.warmup()
        setup_s = time.perf_counter() - T_START
        self.timed()
        self.check_extract_sample()
        self.metrics["host.loadavg_end"] = loadavg()
        if self.args.trace:
            self.layer_metrics()
            names = PER_LAYER
        else:
            self.metrics["setup_s"] = setup_s
            self.metrics["pages_per_s"] = _median(
                [self.n_pages / s for s, _sid, _g in self.passes])
            self.metrics["worker_rss_mb"] = self.sampler.peak_rss_mb
            names = END_TO_END
        return {name: {"value": self.metrics[name], "unit": unit}
                for name, unit in names.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import nlquery_spark  # noqa: F401  -- the program under test

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(base, run_id)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = tmp

    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             **run_stamp(cores)}
    bench = Bench(args, run_dir, cores)
    bench.metrics["host.loadavg_start"] = stamp["loadavg_start"]
    try:
        metrics = bench.run()
    except Exception as exc:  # the program raised: a failed run, reported
        bench.attempted += 1
        bench.failed += 1
        bench.failures.append({"run": _describe(exc)})
        names = PER_LAYER if args.trace else END_TO_END
        metrics = {name: {"value": bench.metrics.get(name, 0.0), "unit": unit}
                   for name, unit in names.items()}
    finally:
        bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    stamp["loadavg_end"] = bench.metrics.get("host.loadavg_end", loadavg())

    report = {
        "run_stamp": stamp,
        "pages": bench.n_pages,
        "page_sha256": bench.page_sha256,
        "setup_parts_s": {k: bench.metrics.get(k) for k in (
            "plans.session.start_s", "sources.gen_s", "warmup.first_pass_s")},
        "passes_s": [s for s, _sid, _g in bench.passes],
        "python_workers": bench.window_workers,
        "error_rate": bench.failed / max(bench.attempted, 1),
        "failures": bench.failures,
    }
    if args.trace:
        report["self_s"] = bench.tracer.self_times()
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", run_id + ".json"), "w") as f:
        json.dump({**report, "metrics": metrics,
                   "spans": bench.tracer.spans}, f)
    print(json.dumps(report))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
