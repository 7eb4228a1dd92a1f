"""The job-level workloads (see NOTES.md), each driven through the
package's public entry points.

A workload prepares its seeded inputs once (``prepare``), then runs one
batch job per ``run`` call, closed loop: the next job starts only after
the previous one has committed (``extract_resume``) or materialized (the
others). ``before`` resets state outside the timed region, ``check``
verifies a job's output and raises ``CheckFailed`` on a mismatch, and
``trace`` measures the workload's layers one prefix at a time.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

import gen
import probes
from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

import ocr_parallel_spark.pages as pages_mod
from ocr_parallel_spark import pipeline
from ocr_parallel_spark.io import snapshot
from ocr_parallel_spark.io.snapshot import SnapshotTable, run_resumable
from ocr_parallel_spark.kernel import extract_html, extract_payload, extract_pdf, simhash64
from ocr_parallel_spark.kernel.pdf_layout import is_pdf_payload
from ocr_parallel_spark.pages import synthesize_pages

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
CORES = 4
N_FILES = 2 * CORES  # fixed input layout: 2 scan splits per core
KERNEL_SAMPLE = 400


class CheckFailed(Exception):
    """A job's output differs from what its inputs determine."""


def load_script(name: str):
    """Import ``scripts/<name>.py`` (the spark-submit jobs are scripts,
    not package modules)."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _file_hash(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def cached(cache_root: str, key: dict, build) -> str:
    """Directory holding ``build(dir)``'s output for ``key``, built once.
    A directory counts only once its ``_SUCCESS`` marker is written, so
    an interrupted build is redone, never read."""
    key = dict(key, gen=_file_hash(gen.__file__), pages=_file_hash(pages_mod.__file__))
    digest = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(cache_root, f"{key['kind']}-{digest}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
    return path


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest(*cols: str) -> list:
    """Order-independent digest of a frame's rows over ``cols``: row
    count plus the XOR of a 64-bit hash per row. Usable in ``agg`` and
    in ``observe``."""
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols])
    return [F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x")]


@contextmanager
def tap(module, name: str, sink: dict):
    """Record every DataFrame ``module.name`` returns (and its first
    argument, under ``name + ".in"``) while active. The
    program's own composition is observed, not re-written: taps capture
    the intermediate frames a job builds so each prefix can be timed."""
    orig = getattr(module, name)

    def wrapper(*args, **kwargs):
        out = orig(*args, **kwargs)
        sink.setdefault(name, []).append(out)
        sink.setdefault(name + ".in", []).append(args[0])
        return out

    setattr(module, name, wrapper)
    try:
        yield sink
    finally:
        setattr(module, name, orig)


def timed_noop(tracer, name: str, df, *observe) -> dict:
    """Materialize ``df`` in a span; returns the observed aggregates."""
    obs = Observation(name)
    if observe:
        df = df.observe(obs, *observe)
    with tracer.span(name):
        noop(df)
    return obs.get if observe else {}


def kernel_metrics(pages) -> dict:
    """Driver-side calls into the kernel on the first KERNEL_SAMPLE
    payloads of the seeded input, median of three passes each."""
    payloads = [r.html for r in pages.select("html").limit(KERNEL_SAMPLE).collect()]
    htmls, pdfs = [], []
    for p in payloads:
        if p and is_pdf_payload(p):
            pdfs.append(p)
        elif p and b"\x00" not in p:
            try:
                htmls.append(p.decode("utf-8"))
            except UnicodeDecodeError:
                pass
    texts = [r["text"] for r in map(extract_payload, payloads) if r["text"]]

    def us_per(fn, items) -> float:
        if not items:
            return 0.0
        runs = []
        for _ in range(3):
            t = time.perf_counter()
            for x in items:
                fn(x)
            runs.append(time.perf_counter() - t)
        return statistics.median(runs) / len(items) * 1e6

    return {
        "kernel.us_per_page": us_per(extract_payload, payloads),
        "kernel.html_us_per_page": us_per(extract_html, htmls),
        "kernel.simhash_us_per_page": us_per(simhash64, texts),
        "kernel.pdf_us_per_page": us_per(extract_pdf, pdfs),
    }


class Workload:
    name = ""
    warmup = 1

    def __init__(self, spark, work: str, cache: str, seed: int) -> None:
        self.spark = spark
        self.work = work  # this run's scratch directory
        self.cache = cache  # inputs shared by runs with the same key
        self.seed = seed
        self.rows = 0  # input rows one job completes

    def prepare(self) -> None:
        raise NotImplementedError

    def before(self) -> None:
        self.spark.catalog.clearCache()

    def run(self):
        raise NotImplementedError

    def check(self, out) -> dict:
        raise NotImplementedError

    def trace(self, tracer) -> dict:
        raise NotImplementedError

    def _expect(self, got, want, what: str) -> None:
        if got != want:
            raise CheckFailed(f"{self.name}: {what}: got {got}, want {want}")


class Extraction(Workload):
    """Shared by the extraction workloads: seeded pages with their
    synthesis ``expected_text``, the digest keep-first extraction must
    produce, and the per-layer timing of the extraction pipeline."""

    n_docs = 0
    body_repeat = 1

    def _pages(self) -> str:
        def build(path: str) -> None:
            gen.write_documents(os.path.join(path, "documents.parquet"), self.seed, self.n_docs)
            pages = synthesize_pages(self.spark, path, with_expected=True, body_repeat=self.body_repeat)
            pages.drop("doc_id").repartition(N_FILES).write.parquet(os.path.join(path, "pages"))

        key = {"kind": "pages", "seed": self.seed, "n": self.n_docs, "body_repeat": self.body_repeat, "files": N_FILES}
        return os.path.join(cached(self.cache, key, build), "pages")

    def _load(self, split=None) -> dict:
        """Read the pages; returns, for each value of ``split`` (a
        boolean column over the pages, all False if None), the (url,
        text) digest of what keep-first extraction must return: the
        expected text of the earliest crawl of every url."""
        self.expected = self.spark.read.parquet(self._pages())
        self.pages = self.expected.select(*PAGE_COLS)
        split = F.lit(False) if split is None else split
        w = Window.partitionBy("url").orderBy("warc_ts")
        winners = (
            self.expected.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .select("url", F.col("expected_text").alias("text"), split.alias("split"))
            .groupBy("split")
            .agg(*digest("url", "text"))
            .collect()
        )
        return {r["split"]: {"n": r["n"], "x": r["x"]} for r in winners}

    def _extraction_layers(self, tracer, source, kernel_us: float) -> dict:
        """Time the extraction pipeline one layer at a time on ``source``:
        scan -> +kernel -> +keep-first -> +content dedup -> +near-dup.
        Layer time is the difference of consecutive prefixes; the kernel's
        share of the extraction prefix compares ``kernel_us`` per page,
        spread over the cores, with the prefix's own time."""
        sink: dict = {}
        with tap(pipeline, "extract_pages", sink), tap(pipeline, "keep_first", sink), tap(
            pipeline, "mark_exact_content_dups", sink
        ):
            full = pipeline.run_extraction_pipeline(source)
        n = F.count(F.lit(1)).alias("n")
        timed_noop(tracer, "prefix.scan", source)
        cpu0 = probes.cpu_split_s()
        extracted = timed_noop(tracer, "prefix.kernel", sink["extract_pages"][0], n)["n"]
        cpu1 = probes.cpu_split_s()
        kept = timed_noop(tracer, "prefix.keep_first", sink["keep_first"][0], n)["n"]
        exact = timed_noop(
            tracer, "prefix.content", sink["mark_exact_content_dups"][0], F.count(F.when(F.col("is_exact_dup"), 1)).alias("n")
        )["n"]
        near = timed_noop(tracer, "prefix.near_dup", full, F.count(F.when(F.col("is_near_dup"), 1)).alias("n"))["n"]
        self.spark.catalog.clearCache()
        s = tracer.seconds
        return {
            "extraction.s": s("prefix.kernel"),
            "extraction.kernel_share": kernel_us * extracted / 1e6 / CORES / max(s("prefix.kernel") - s("prefix.scan"), 1e-9),
            "cpu.python_s": cpu1["python"] - cpu0["python"],
            "cpu.jvm_s": cpu1["jvm"] - cpu0["jvm"],
            "dedup.keep_first_s": s("prefix.keep_first") - s("prefix.kernel"),
            "dedup.content_s": s("prefix.content") - s("prefix.keep_first"),
            "neardup.simhash_s": s("prefix.near_dup") - s("prefix.content"),
            "dedup.url_dups": extracted - kept,
            "dedup.exact_dups": exact,
            "neardup.near_dups": near,
            "dedup.wasted_extract_share": (extracted - kept) / max(extracted, 1),
        }


class ExtractResume(Extraction):
    """The job_extract production path: run_resumable of
    run_extraction_pipeline into a SnapshotTable that already holds about
    half the urls, over short single-paragraph pages."""

    name = "extract_resume"
    n_docs = 2400
    warmup = 0  # the base commit runs the same path cold; under C1 the next job is steady

    def prepare(self) -> None:
        # The committed half: every copy of a url falls on the same side.
        done = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
        want = self._load(done)
        self.want = want[False]
        self.rows = self.pages.filter(~done).count()
        self.base = os.path.join(self.work, "table-base")
        self.table_dir = os.path.join(self.work, "table")
        snap = run_resumable(self.pages.filter(done), SnapshotTable(self.base), self.spark, pipeline.run_extraction_pipeline)
        self._expect(snap["lineage"]["rows_written"], want[True]["n"], "rows committed by the base run")

    def before(self) -> None:
        super().before()
        shutil.rmtree(self.table_dir, ignore_errors=True)
        shutil.copytree(self.base, self.table_dir)

    def run(self):
        return run_resumable(self.pages, SnapshotTable(self.table_dir), self.spark, pipeline.run_extraction_pipeline)

    def check(self, snap) -> dict:
        self._expect(snap["lineage"]["rows_written"], self.want["n"], "rows_written")
        written = self.spark.read.parquet(os.path.join(self.table_dir, snap["data_dirs"][-1]))
        self._expect(written.agg(*digest("url", "text")).first().asDict(), self.want, "per-url text digest")
        return {}

    def trace(self, tracer) -> dict:
        self.before()
        table = SnapshotTable(self.table_dir)
        todo = snapshot.resume_filter(self.pages, table, self.spark)
        with tracer.span("snapshot.resume_filter"):
            noop(todo)
        kernel = kernel_metrics(self.pages)
        out = self._extraction_layers(tracer, todo, kernel["kernel.us_per_page"])
        result = pipeline.run_extraction_pipeline(todo).persist()
        n = result.count()
        with tracer.span("snapshot.counters"):
            snapshot.partition_counters(result)
        with tracer.span("snapshot.append"):
            snap = table.append(result)
        result.unpersist()
        run_dir = os.path.join(self.table_dir, snap["data_dirs"][-1])
        files = [f for f in os.listdir(run_dir) if f.endswith(".parquet")]
        size = sum(os.path.getsize(os.path.join(run_dir, f)) for f in files)
        return {
            **out,
            **kernel,
            **self._full_process_layers(tracer),
            "snapshot.resume_filter_s": tracer.seconds("snapshot.resume_filter"),
            "snapshot.append_s": tracer.seconds("snapshot.append"),
            "snapshot.counters_s": tracer.seconds("snapshot.counters"),
            "snapshot.files_written": len(files),
            "snapshot.bytes_per_row": size / max(n, 1),
        }

    def _full_process_layers(self, tracer) -> dict:
        """Time job_full_process.build_output (extraction -> chunking ->
        localization -> boundaries) over the same pages, one prefix at a
        time, with a small targets CSV."""
        from ocr_parallel_spark.operators import chunking, localization
        from ocr_parallel_spark.queries_catalog import (
            BOUNDARY_END_AFTER,
            BOUNDARY_END_BEFORE,
            BOUNDARY_START_MARKERS,
        )

        job = load_script("job_full_process")
        targets = os.path.join(self.work, "targets.csv")
        gen.write_targets_csv(targets)
        sink: dict = {}
        with tap(pipeline, "run_extraction_pipeline", sink), tap(chunking, "overlap_chunks", sink), tap(
            localization, "localize", sink
        ):
            out = job.build_output(
                self.spark, self.pages, targets, job.DEFAULT_CHUNK, job.DEFAULT_OVERLAP,
                BOUNDARY_START_MARKERS, BOUNDARY_END_AFTER, BOUNDARY_END_BEFORE,
            )
        plan = probes.plan_ms(out)
        n = F.count(F.lit(1)).alias("n")
        timed_noop(tracer, "fp.extract", sink["run_extraction_pipeline"][0])
        chunks = timed_noop(tracer, "fp.chunks", sink["overlap_chunks"][0], n)["n"]
        hits = timed_noop(tracer, "fp.localize", sink["localize"][0], n)["n"]
        timed_noop(tracer, "fp.full", out)
        s = tracer.seconds
        return {
            "fp.plan_ms": plan,
            "chunking.s": s("fp.chunks") - s("fp.extract"),
            "localization.s": s("fp.localize") - s("fp.chunks"),
            "boundaries.s": s("fp.full") - s("fp.localize"),
            "localization.hit_ratio": hits / max(chunks * len(gen.TARGETS), 1),
        }


class Curate(Workload):
    """job_curate.build_output with blocklist and decontamination over a
    seeded docs table."""

    name = "curate"
    n_docs = 150
    warmup = 3
    REASONS = ("blocked", "lang", "too_short", "pii", "boilerplate", "contaminated", "dup", "near_dup", "kept")

    def prepare(self) -> None:
        def build(path: str) -> None:
            gen.write_curation_docs(
                os.path.join(path, "docs.parquet"), os.path.join(path, "bench.parquet"), self.seed, self.n_docs
            )

        path = cached(self.cache, {"kind": "curate", "seed": self.seed, "n": self.n_docs}, build)
        self.job = load_script("job_curate")
        self.docs = self.spark.read.parquet(os.path.join(path, "docs.parquet"))
        self.bench = self.spark.read.parquet(os.path.join(path, "bench.parquet"))
        self.blocked = self.spark.createDataFrame([(gen.BLOCKED_HOST,)], "host string")
        self.want_ids = self.docs.agg(*digest("doc_id")).first().asDict()
        self.rows = self.want_ids["n"]
        self.verdicts = None

    def _build(self, near_dup: bool = False):
        return self.job.build_output(self.spark, self.docs, self.blocked, self.bench, near_dup=near_dup)

    def run(self):
        obs = Observation("bench_sink")
        verdict = F.coalesce(F.col("drop_reason"), F.lit("kept"))
        noop(self._build().observe(obs, *digest("doc_id"), F.bit_xor(F.xxhash64("doc_id", verdict)).alias("verdicts")))
        return obs.get

    def check(self, out) -> dict:
        self._expect({"n": out["n"], "x": out["x"]}, self.want_ids, "one verdict per input doc")
        if self.verdicts is None:
            self.verdicts = out["verdicts"]
        self._expect(out["verdicts"], self.verdicts, "verdict digest stable across runs")
        return {"verdict_digest": self.verdicts}

    def trace(self, tracer) -> dict:
        from ocr_parallel_spark.operators import graph, neardup

        reason = F.coalesce(F.col("drop_reason"), F.lit("kept"))
        counts = [F.count(F.when(reason == r, 1)).alias(r) for r in self.REASONS]
        out = self._build()
        plan = probes.plan_ms(out)
        drops = timed_noop(tracer, "curate.exec", out, *counts)
        # Near-dup (MinHash LSH -> verify -> connected components) runs in
        # the traced run only: its component rounds run eagerly while the
        # job is built and add ~25 s per job at any corpus size, more than
        # a measured run can hold.
        self.before()
        sink: dict = {}
        with tracer.span("curate.near_dup_job"):
            with tap(neardup, "pairs_from_banded", sink), tap(graph, "connected_components", sink):
                near = self._build(near_dup=True)
            drops["near_dup"] = timed_noop(tracer, "curate.near_dup_exec", near, *counts)["near_dup"]
        cands = sink["pairs_from_banded"][0].count()
        verified = sink["connected_components.in"][0].count()
        return {
            "curate.plan_ms": plan,
            "curate.exec_s": tracer.seconds("curate.exec"),
            "neardup.job_s": tracer.seconds("curate.near_dup_job"),
            "neardup.minhash_candidates": cands,
            "neardup.verified_ratio": verified / max(cands, 1),
            **{f"curate.drops.{r}": drops[r] for r in self.REASONS},
        }


class ExtractCC(Extraction):
    """run_extraction_pipeline over Common-Crawl-size pages (24
    paragraphs, about 7.5 KB each) into a noop sink: the kernel
    dominates the job. Its traced run also times the curation screens
    (``Curate.trace``), which run no extraction."""

    name = "extract_cc"
    n_docs = 2000
    body_repeat = 24

    def prepare(self) -> None:
        self.want = self._load()[False]
        self.rows = self.pages.count()

    def run(self):
        obs = Observation("bench_sink")
        noop(pipeline.run_extraction_pipeline(self.pages).observe(obs, *digest("url", "text")))
        return obs.get

    def check(self, out) -> dict:
        self._expect({"n": out["n"], "x": out["x"]}, self.want, "per-url text digest")
        return {}

    def trace(self, tracer) -> dict:
        kernel = kernel_metrics(self.pages)
        out = self._extraction_layers(tracer, self.pages, kernel["kernel.us_per_page"])
        curate = Curate(self.spark, self.work, self.cache, self.seed)
        curate.prepare()
        return {**out, **kernel, **curate.trace(tracer)}


WORKLOADS = {w.name: w for w in (ExtractResume, ExtractCC, Curate)}
