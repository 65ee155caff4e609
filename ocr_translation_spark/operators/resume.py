"""Checkpointed, resumable runs with per-partition lineage + metrics.

North-rule requirement (conceptual ancestor: BullMQ's persistent
jobId-keyed jobs surviving restarts, reference ``OCRQueue.js:47``;
progress checkpoints 0..100 at ``OCRQueue.js:70-113``).

Protocol (SURVEY.md section 4.2):

* Input is bucketed by ``pmod(xxhash64(doc_id), n_buckets)`` — a pure
  function of the key, so bucket membership is stable across runs and
  cluster sizes.
* Each bucket is processed as one commit unit: extract -> write
  ``out_dir/bucket=K/`` (partition-dir overwrite, idempotent on retry)
  -> append one lineage row. The lineage append is the commit point;
  a crash between data write and lineage append re-does that bucket
  (idempotent because the data write is a directory overwrite, never
  a blind append).
* A resumed run lists committed lineage rows and processes only the
  remaining buckets (anti-join at bucket granularity).
* Metrics rows (stage-level doc/span counts + wall time) land beside
  lineage — the batch replacement for the reference's SSE progress
  stream (``controllers/pdf.js:30-47``).

At 100 TB n_buckets scales to O(1000) and a preempted cluster loses
at most the buckets in flight. Each bucket is a full distributed job,
but NOT one over ~1/n_buckets of the corpus: ``_work_bucket`` filters
the full input on the bucket expression and nothing prunes that
filter, so every bucket reads and hashes the whole corpus (a run reads
it n_buckets times).
"""

from __future__ import annotations

import os
import sys
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline import extract

# The state tables under ``state_dir``. Appends are 1-3 rows, so they
# are written (and lineage is read) directly with pyarrow: one file
# create, ~ms, instead of a Spark job with seconds of driver and
# scheduler overhead per bucket.
STATE_SCHEMAS = {
    "lineage": pa.schema([
        ("run_id", pa.string()), ("bucket", pa.int32()),
        ("n_docs", pa.int64()), ("n_spans", pa.int64()),
        ("wall_ms", pa.int64()), ("status", pa.string()),
        ("committed_at", pa.string()),
    ]),
    "metrics": pa.schema([
        ("run_id", pa.string()), ("bucket", pa.int32()),
        ("stage", pa.string()), ("metric", pa.string()),
        ("value", pa.float64()),
    ]),
}


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")


def committed_buckets(spark: SparkSession, state_dir: str) -> set[int]:
    """Buckets with a committed lineage row (read with pyarrow; no
    Spark job, ``spark`` is unused).

    MISSING lineage (fresh run) reads as the empty set; a BROKEN
    lineage dir raises — a resume protocol that silently reads
    corruption as "nothing committed" would reprocess the world and
    lose its memory without telling anyone.
    """
    lineage_path = os.path.join(state_dir, "lineage")
    if not os.path.exists(lineage_path):
        return set()
    tbl = pq.read_table(
        lineage_path, schema=STATE_SCHEMAS["lineage"],
        columns=["bucket", "status"],
    ).to_pydict()
    return {
        b for b, st in zip(tbl["bucket"], tbl["status"]) if st == "committed"
    }


class ResumableRun:
    """Drive a resumable extraction over bucketed input."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        state_dir: str,
        n_buckets: int = 16,
        cache_dir: str | None = None,
    ):
        """``cache_dir``: optional directory holding a persisted
        ``ocr_cache`` table that GROWS across buckets and runs
        (store-always semantics, reference ``OCRQueue.js:85``): each
        bucket's new OCR results are merged in crash-safely after the
        bucket commits, and later buckets / later runs read them as
        cache hits instead of re-OCRing."""
        self.spark = spark
        self.out_dir = out_dir
        self.state_dir = state_dir
        self.n_buckets = n_buckets
        self.run_id = uuid.uuid4().hex[:12]
        if cache_dir is not None:
            from ..sources.catalog import Catalog

            self.cache_catalog = Catalog(spark, cache_dir)
        else:
            self.cache_catalog = None

    def _append_state(self, name: str, rows) -> None:
        schema = STATE_SCHEMAS[name]
        tbl = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        )
        d = os.path.join(self.state_dir, name)
        os.makedirs(d, exist_ok=True)
        # write under a hidden name, then rename: a crash mid-write
        # leaves a file both pyarrow and Spark skip, never a truncated
        # part that makes the lineage unreadable
        part = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(tbl, os.path.join(d, "." + part))
        os.replace(os.path.join(d, "." + part), os.path.join(d, part))

    def _work_bucket(self, bucketed, media, b: int, kwargs: dict):
        """The heavy, parallel-safe part of one bucket: extract + data
        write + stats. Returns (stats_row, extract_result, wall_ms) with
        the result's ``ocr_payloads`` persisted (the caller unpersists)."""
        from pyspark.sql import Observation

        t0 = time.monotonic()
        subset = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
        res = extract(self.spark, subset, media, **kwargs)
        # persist BEFORE the output write: the write materializes
        # the OCR mapInPandas subtree into the cache, so the cache
        # merge reuses it instead of re-OCRing every miss
        res.ocr_payloads.persist()
        bucket_dir = os.path.join(self.out_dir, f"bucket={b}")
        # stats ride the write via observe() — re-reading the bucket
        # output for a count/sum would re-scan the entire corpus output
        # once over a full run
        obs = Observation()
        res.result.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("n_spans"),
        ).write.mode("overwrite").parquet(bucket_dir)
        stats = obs.get
        wall_ms = int((time.monotonic() - t0) * 1000)
        return stats, res, wall_ms

    def _check_protocol(self) -> None:
        """Bucket membership is pmod(hash(doc_id), n_buckets): lineage
        rows are only meaningful under the n_buckets that wrote them.
        Resuming with a DIFFERENT n_buckets would treat committed
        bucket ids of an incompatible partitioning as done — silently
        skipping documents and mixing outputs. The bucket count is
        therefore pinned in the state dir on first run and validated on
        every resume."""
        import json

        os.makedirs(self.state_dir, exist_ok=True)
        pf = os.path.join(self.state_dir, "protocol.json")
        if os.path.exists(pf):
            try:
                with open(pf) as f:
                    saved = json.load(f)
            except (json.JSONDecodeError, OSError) as exc:
                # truncated/unreadable protocol must surface as the
                # protocol error it is, not an anonymous decode crash
                raise ValueError(
                    f"resume state at {self.state_dir} has a corrupted "
                    f"protocol.json ({exc}); if the bucket count of the "
                    "original run is known, restore the file as "
                    '{"n_buckets": N} — otherwise start a fresh state '
                    "dir"
                ) from exc
            if saved.get("n_buckets") != self.n_buckets:
                raise ValueError(
                    f"resume state at {self.state_dir} was written with "
                    f"n_buckets={saved.get('n_buckets')}; this run uses "
                    f"n_buckets={self.n_buckets}. Bucket ids are not "
                    "comparable across bucket counts — finish with the "
                    "original count or start a fresh state dir."
                )
        else:
            # atomic publish: a crash mid-write must not leave truncated
            # JSON that blocks every later resume
            tmp = pf + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"n_buckets": self.n_buckets}, f)
            os.replace(tmp, pf)

    def _commit_bucket(self, b: int, stats, wall_ms: int) -> None:
        """The bucket's commit point: ONE lineage append (the caller
        holds the commit lock), then its metrics rows."""
        now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        self._append_state(
            "lineage",
            [
                (
                    self.run_id, b, stats["n_docs"], stats["n_spans"],
                    wall_ms, "committed", now,
                )
            ],
        )
        self._append_state(
            "metrics",
            [
                (self.run_id, b, "extract", "docs", float(stats["n_docs"])),
                (self.run_id, b, "extract", "spans", float(stats["n_spans"])),
                (self.run_id, b, "extract", "wall_ms", float(wall_ms)),
            ],
        )

    def run(
        self,
        docs: DataFrame,
        media: DataFrame | None,
        *,
        fail_after_buckets: int | None = None,
        max_concurrency: int = 1,
        **extract_kwargs,
    ) -> list[int]:
        """Process all pending buckets; returns the buckets processed.

        One loop at every concurrency: a pool of
        ``max(1, max_concurrency)`` threads takes the pending buckets in
        order, so a pool of one runs them one after another. Several
        threads overlap the buckets' Spark jobs: at n_buckets ~ O(1000)
        the per-bucket driver overhead (planning, the lineage append,
        the cache merge) otherwise serializes into idle-cluster time.
        Pool threads inherit the caller's local properties (job group,
        scheduler pool).

        * Commit: each bucket writes its own partition dir outside the
          lock; the lineage append (the commit point), the cache merge
          and the cache reload run under one commit lock.
        * Stop: the first bucket that raises sets a stop flag. A bucket
          that has not started checks it first and never starts;
          buckets already running finish and commit; then the error
          propagates. A resume redoes only the uncommitted buckets.
        * Compaction: every bucket reads a snapshot of the cache taken
          when it starts, and compaction replaces the files a snapshot
          reads. So the merge compacts (every ``Catalog.COMPACT_AFTER``
          batches) only when no other bucket holds a snapshot — with a
          pool of one, at every merge that reaches the limit.

        ``fail_after_buckets=N`` simulates a crash (tests, benchmark):
        the first N pending buckets run at the given concurrency, then
        the run raises ``RuntimeError("simulated crash before bucket
        …")``.
        """
        self._check_protocol()
        done = committed_buckets(self.spark, self.state_dir)
        pending = [b for b in range(self.n_buckets) if b not in done]
        todo = pending[:fail_after_buckets]  # [:None] is all of them
        bucketed = docs.withColumn("_bucket", _bucket_col(self.n_buckets))

        if self.cache_catalog is not None:
            ext = extract_kwargs.get("ocr_cache")
            if ext is not None:
                # a caller-supplied warm cache is folded INTO the
                # persistent one up front (store-always): the per-bucket
                # reload below would otherwise silently drop the
                # external entries after the first commit
                self.cache_catalog.merge_cache(ext, "ocr_cache", "h")
            # error-fallback load: unreadable cache -> recompute, not abort
            extract_kwargs["ocr_cache"] = self.cache_catalog.load_cache(
                "ocr_cache", "h"
            )
        merge = self.cache_catalog is not None and media is not None

        lock = threading.Lock()
        readers = 0  # started buckets holding a cache snapshot
        stop = False

        def one_bucket(b: int) -> int | None:
            nonlocal readers, stop
            with lock:
                if stop:
                    return None
                readers += 1
                kwargs = dict(extract_kwargs)
            try:
                stats, res, wall_ms = self._work_bucket(
                    bucketed, media, b, kwargs
                )
                try:
                    with lock:
                        self._commit_bucket(b, stats, wall_ms)
                        if merge:
                            # store-always (OCRQueue.js:85): grow the
                            # persisted cache; later buckets hit
                            # instead of re-OCRing. Compact only if no
                            # other bucket reads a snapshot.
                            self.cache_catalog.merge_cache(
                                res.new_ocr_cache, "ocr_cache", "h",
                                compact_after=(
                                    None if readers == 1 else sys.maxsize
                                ),
                            )
                            extract_kwargs["ocr_cache"] = (
                                self.cache_catalog.load_cache(
                                    "ocr_cache", "h"
                                )
                            )
                finally:
                    # a failed commit must not leak the bucket's
                    # persisted OCR blocks for the session lifetime
                    res.ocr_payloads.unpersist()
            except BaseException:
                with lock:
                    stop = True
                raise
            finally:
                with lock:
                    readers -= 1
            return b

        target = inheritable_thread_target(self.spark)(one_bucket)
        with ThreadPoolExecutor(max_workers=max(1, max_concurrency)) as pool:
            processed = list(pool.map(target, todo))
        if len(todo) < len(pending):
            raise RuntimeError(
                f"simulated crash before bucket {pending[len(todo)]}"
            )
        return processed

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(self.out_dir)

    def job_result(self, doc_id: str):
        """Point lookup: one document's extracted spans plus its run
        state — the batch twin of ``GET /result/:jobId`` (reference
        ``controllers/pdf.js:272-303``: completed -> payload, failed ->
        reason, else -> pending).

        Returns ``(status, spans_or_none)`` with status one of
        ``completed`` (bucket committed, doc present), ``failed``
        (bucket committed but the doc was dropped — e.g. quarantined
        upstream or null spans), or ``pending`` (bucket not committed
        yet). Bucket membership is a pure function of the key, so the
        lineage check is a metadata read, not a table scan.
        """
        bucket = F.pmod(F.xxhash64(F.lit(doc_id)), F.lit(self.n_buckets)).cast(
            "int"
        )
        b = self.spark.range(1).select(bucket.alias("b")).collect()[0]["b"]
        if b not in committed_buckets(self.spark, self.state_dir):
            return ("pending", None)
        rows = (
            self.spark.read.parquet(os.path.join(self.out_dir, f"bucket={b}"))
            .filter(F.col("doc_id") == doc_id)
            .collect()
        )
        if not rows:
            return ("failed", None)
        return ("completed", rows[0]["spans"])

    def read_lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.state_dir, "lineage"))

    def read_metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.state_dir, "metrics"))
