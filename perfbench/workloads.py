"""The three workloads, each driven through the package's public API.

* ``text_dense``: the datagen default mix (~105 spans/doc, ~3.4 media
  refs/doc, 1/97 media-heavy docs) with the media table and no OCR
  cache. The fused stage B+C text path carries most of a pass.
* ``media_dense``: only docs that datagen's heavy rule makes
  media-heavy, no cache. The OCR branch (explode, distinct, semi-join,
  sha2 dedup, mapInPandas OCR, regroup, join) carries most of a pass.
* ``resume_cached``: a ``ResumableRun`` with a fixed bucket count over a
  text_dense-shaped corpus and an OCR cache warmed beforehand through
  ``Catalog``. Each pass crashes after half the buckets, then resumes to
  completion; out/state are cleared and the warmed cache restored from a
  snapshot first, so every pass does identical work.

A pass is one closed-loop request: the next starts only when it ends.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

import inputs as I
from tracing import Tracer
from ocr_translation_spark.operators.resume import ResumableRun, committed_buckets
from ocr_translation_spark.pipeline import extract

TEXT_DOCS = 6000
HEAVY_DOCS = 300
RESUME_DOCS = 500
RESUME_BUCKETS = 2


@dataclass
class PassResult:
    pass_s: float
    resume_s: float


@dataclass
class Check:
    attempted: int
    failed: int
    problems: list[str]


def compare(out_dir: str, inp: I.Inputs) -> Check:
    """Check one pass's output against ``semantics.extract_doc``."""
    attempted, failed = I.count_mismatches(out_dir, inp.golden_path)
    problems = [f"{failed} docs differ from the golden spec"] if failed else []
    return Check(attempted=attempted, failed=failed, problems=problems)


class ExtractWorkload:
    """One pass = ``extract(docs, media)`` written as parquet."""

    def __init__(self, ids_for_seed):
        self._ids_for_seed = ids_for_seed

    def generate(self, seed: int, data_dir: str, procs: int) -> I.Inputs:
        return I.generate(self._ids_for_seed(seed), data_dir, procs)

    def open(self, spark, inp: I.Inputs, work_dir: str) -> None:
        self.spark, self.inputs, self.work_dir = spark, inp, work_dir
        self.docs = spark.read.parquet(inp.docs_path)
        self.media = spark.read.parquet(inp.media_path)
        self.out_dir = os.path.join(work_dir, "out")

    def ocr_cache(self):
        return None

    def cold_pass(self) -> None:
        # two discarded passes: JIT warm-up of the generated code is
        # still moving after one, which tilts the first timed passes
        for _ in range(2):
            self.run_pass(Tracer(enabled=False))

    def run_pass(self, tracer) -> PassResult:
        t0 = time.perf_counter()
        with tracer.span("pipeline.extract"):
            res = extract(self.spark, self.docs, self.media)
            res.result.write.mode("overwrite").parquet(self.out_dir)
        dt = time.perf_counter() - t0
        # a one-shot job has no checkpoint: a restart redoes the whole pass
        return PassResult(pass_s=dt, resume_s=dt)

    def check(self) -> Check:
        return compare(self.out_dir, self.inputs)


class ResumeWorkload:
    """One pass = a ``ResumableRun`` that crashes after half the buckets,
    then a fresh ``ResumableRun`` that resumes to completion."""

    def generate(self, seed: int, data_dir: str, procs: int) -> I.Inputs:
        return I.generate(I.text_ids(seed, "r", RESUME_DOCS), data_dir, procs)

    def open(self, spark, inp: I.Inputs, work_dir: str) -> None:
        self.spark, self.inputs, self.work_dir = spark, inp, work_dir
        self.docs = spark.read.parquet(inp.docs_path)
        self.media = spark.read.parquet(inp.media_path)
        self.out_dir = os.path.join(work_dir, "out")
        self.state_dir = os.path.join(work_dir, "state")
        self.cache_dir = os.path.join(work_dir, "cache")
        self.snapshot_dir = os.path.join(work_dir, "cache_snapshot")
        self.lineage: list[dict] = []
        # one entry per pass: what the per-layer report reads back
        self.history: list[dict] = []

    def ocr_cache(self):
        from ocr_translation_spark.sources.catalog import Catalog

        return Catalog(self.spark, self.snapshot_dir).load_cache("ocr_cache", "h")

    def cold_pass(self) -> None:
        """Warm the snapshot OCR cache: a resumable run over ~90% of the
        docs (ids not ending in 0) merges their OCR results into it
        through ``Catalog``, so passes find almost every payload cached.
        This is the cold pass: it also warms the resumable-run plans."""
        ResumableRun(
            self.spark,
            os.path.join(self.work_dir, "warm_out"),
            os.path.join(self.work_dir, "warm_state"),
            n_buckets=RESUME_BUCKETS,
            cache_dir=self.snapshot_dir,
        ).run(self.docs.filter(~F.col("doc_id").endswith("0")), self.media)

    def _reset(self) -> None:
        for d in (self.out_dir, self.state_dir, self.cache_dir):
            shutil.rmtree(d, ignore_errors=True)
        if os.path.isdir(self.snapshot_dir):
            shutil.copytree(self.snapshot_dir, self.cache_dir)

    def _run(self, tracer) -> ResumableRun:
        run = ResumableRun(
            self.spark, self.out_dir, self.state_dir,
            n_buckets=RESUME_BUCKETS, cache_dir=self.cache_dir,
        )
        if tracer.enabled:
            cat = run.cache_catalog
            cat.load_cache = tracer.wrap("catalog.load_cache", cat.load_cache)
            cat.merge_cache = tracer.wrap("catalog.merge_cache", cat.merge_cache)
        return run

    def run_pass(self, tracer) -> PassResult:
        self._reset()
        t0 = time.perf_counter()
        with tracer.span("resume.run"):
            try:
                self._run(tracer).run(
                    self.docs, self.media, fail_after_buckets=RESUME_BUCKETS // 2
                )
            except RuntimeError as exc:
                if "simulated crash" not in str(exc):
                    raise
            else:
                raise RuntimeError("the crash run finished instead of crashing")
        t1 = time.perf_counter()
        with tracer.span("resume.committed_buckets"):
            done = committed_buckets(self.spark, self.state_dir)
        t2 = time.perf_counter()
        with tracer.span("resume.run"):
            processed = self._run(tracer).run(self.docs, self.media)
        t3 = time.perf_counter()
        self.lineage = lineage_rows(self.state_dir)
        entry = {
            "pass_id": tracer.pass_id if tracer.enabled else None,
            "redone": len(done & set(processed)),
            "wall_s": [row["wall_ms"] / 1000.0 for row in self.lineage],
        }
        if tracer.enabled:
            entry.update(cache_shape(os.path.join(self.cache_dir, "ocr_cache")))
        self.history.append(entry)
        return PassResult(pass_s=(t1 - t0) + (t3 - t2), resume_s=t3 - t2)

    def check(self) -> Check:
        chk = compare(self.out_dir, self.inputs)
        counts = [0] * RESUME_BUCKETS
        for row in self.lineage:
            counts[row["bucket"]] += 1
        if counts != [1] * RESUME_BUCKETS:
            chk.problems.append(f"bucket commit counts {counts}, expected one each")
        redone = [h["redone"] for h in self.history]
        if any(redone):
            chk.problems.append(f"buckets redone per pass: {redone}")
        n_out = sum(row["n_docs"] for row in self.lineage)
        if n_out != len(self.inputs.doc_ids):
            chk.problems.append(f"{n_out} docs out for {len(self.inputs.doc_ids)} in")
        return chk


def lineage_rows(state_dir: str) -> list[dict]:
    import pyarrow.parquet as pq

    path = os.path.join(state_dir, "lineage")
    return pq.read_table(path).to_pylist() if os.path.isdir(path) else []


def cache_shape(path: str) -> dict:
    """``batch=K`` dirs and distinct keys of a ``Catalog`` cache table."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return {"cache_batches": 0, "cache_rows": 0}
    batches = [d for d in os.listdir(path) if d.startswith("batch=")]
    keys = pq.read_table(path, columns=["h"]).column("h").to_pylist()
    return {"cache_batches": len(batches), "cache_rows": len(set(keys))}


WORKLOADS = {
    "text_dense": lambda: ExtractWorkload(lambda seed: I.text_ids(seed, "t", TEXT_DOCS)),
    "media_dense": lambda: ExtractWorkload(lambda seed: I.heavy_ids(seed, HEAVY_DOCS)),
    "resume_cached": ResumeWorkload,
}
