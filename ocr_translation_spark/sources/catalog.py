"""Thin table catalog: Iceberg when the runtime has it, parquet paths
otherwise (SURVEY.md section 7 — Iceberg is packaging, not semantics).

On a production cluster this resolves names through a configured
Iceberg catalog (``spark.read.format("iceberg").load("db.tbl")``,
MERGE-based idempotent appends). In this container there is no Iceberg
connector, so the same API is served by a parquet directory layout:

    root/
      documents.parquet | documents/   (file or dir both fine)
      media.parquet
      ...

Writes emulate MERGE idempotence by partition-directory overwrite
(the resume protocol's commit unit — see operators/resume.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.use_iceberg = False  # no connector in this environment

    def _path(self, name: str) -> str:
        p = os.path.join(self.root, f"{name}.parquet")
        if os.path.exists(p):
            return p
        p = os.path.join(self.root, name)
        if not os.path.exists(p):
            self._heal_swap(p)
        return p

    @staticmethod
    def _heal_swap(path: str) -> None:
        """Crash recovery for ``_write_swap``: a hard kill between its
        two renames leaves NO table at ``path`` and the previous table
        stranded under ``<path>.__swap_old_*`` (the in-process rollback
        never ran). Reads and merges heal that window by renaming the
        stranded table back — the swap never got to commit, so the old
        table IS the current one."""
        import glob

        if os.path.exists(path):
            return
        stranded = sorted(glob.glob(f"{path}.__swap_old_*"))
        if stranded:
            try:
                os.rename(stranded[0], path)
            except OSError:
                pass

    def load(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    def load_or_none(self, name: str) -> DataFrame | None:
        """Cache-error fallback (reference parity: a cache GET error
        falls back to recompute, ``TranslationQueue.js:58-83``): a
        missing OR unreadable/corrupt cache table degrades to None —
        the caller recomputes — instead of failing the job.

        Validation is EAGER (schema resolve + one-row probe) because
        Spark reads are lazy: a poisoned cache path must surface here,
        where we can degrade, not mid-pipeline where it would abort the
        run. Individually corrupt files inside an otherwise-healthy
        table are dropped (ignoreCorruptFiles) — their entries read as
        cache misses and are recomputed, exactly the reference's
        per-GET error semantics.
        """
        if not self.exists(name):
            return None
        try:
            df = self.spark.read.option("ignoreCorruptFiles", "true").parquet(
                self._path(name)
            )
            df.limit(1).collect()
            return df
        except Exception:
            return None

    def exists(self, name: str) -> bool:
        return os.path.exists(self._path(name))

    def append(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(os.path.join(self.root, name))

    def overwrite(self, df: DataFrame, name: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(self.root, name))

    def replace(self, df: DataFrame, name: str) -> None:
        """Crash-safe table replace (full write + directory swap):
        unlike :meth:`overwrite`, a crash mid-write leaves the old
        table or the new one, never a torn mix. Use when a table is
        read-modify-replaced every cycle (e.g. streaming sketch
        state)."""
        self._write_swap(df, self._path(name))

    def _write_swap(
        self, df: DataFrame, path: str,
        partition_by: tuple[str, ...] | None = None,
    ) -> None:
        """Crash-safe table replace: fully write to a TEMP directory,
        then swap in with directory renames. The live table is never
        read-and-overwritten in place (Spark's ``cache()`` is not a
        durability barrier: evicted blocks would be recomputed from a
        half-truncated source mid-write). A crash at any point leaves
        either the old table or the new one, never a torn mix."""
        import shutil
        import uuid

        tmp = f"{path}.__swap_tmp_{uuid.uuid4().hex[:8]}"
        old = f"{path}.__swap_old_{uuid.uuid4().hex[:8]}"
        try:
            # full materialization into tmp happens while `path` is
            # still intact — a failure here leaves the table untouched.
            # A HARD crash (kill -9) between the two renames below
            # leaves no table at `path` with the old one stranded at
            # `old`; readers heal that window via ``_heal_swap``.
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(tmp)
            if os.path.exists(path):
                os.rename(path, old)
            os.rename(tmp, path)
        except Exception:
            if not os.path.exists(path) and os.path.exists(old):
                os.rename(old, path)  # roll back the first rename
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(old, ignore_errors=True)

    def merge_by_key(self, df: DataFrame, name: str, key: str) -> None:
        """Idempotent upsert: existing rows win on key collision
        (cache-table semantics: a cached result never changes).
        Crash-safe via ``_write_swap``; with a real Iceberg catalog
        this whole method is one ``MERGE INTO`` (atomic snapshot
        commit). An UNREADABLE existing table raises — use
        ``merge_cache`` when the table is advisory/rebuildable.
        """
        path = os.path.join(self.root, name)
        if not os.path.exists(path):
            df.write.mode("overwrite").parquet(path)
            return
        existing = self.spark.read.parquet(path)
        merged = existing.unionByName(
            df.join(existing.select(key), key, "left_anti")
        )
        self._write_swap(merged, path)

    # ------------------------------------------------------------------
    # Cache tables: append-only batch layout, existing-wins on read
    # ------------------------------------------------------------------
    #
    # A cache merge must cost O(new entries), not O(table): the old
    # read-union-rewrite emulation paid O(table) I/O per commit —
    # O(n^2) write volume over a 1000-bucket run with a growing cache.
    # Layout: ``name/batch=K/`` partition dirs, one appended per merge
    # (write = the new entries only, nothing is read). Readers resolve
    # key collisions existing-wins by preferring the LOWEST batch
    # (Spark's partition discovery surfaces ``batch`` for free).
    # ``compact_cache`` (auto-triggered past ``compact_after`` batches)
    # folds everything back into one batch crash-safely. With a real
    # Iceberg catalog this whole block is MERGE INTO + snapshot expiry.

    COMPACT_AFTER = 32

    @staticmethod
    def _batch_ids(path: str) -> list[int]:
        if not os.path.isdir(path):
            return []
        out = []
        for d in os.listdir(path):
            if d.startswith("batch="):
                try:
                    out.append(int(d.split("=", 1)[1]))
                except ValueError:
                    pass
        return sorted(out)

    def merge_cache(
        self, df: DataFrame, name: str, key: str,
        compact_after: int | None = None,
        partition_by: tuple[str, ...] | None = None,
    ) -> None:
        """Idempotent cache upsert costing O(new entries) I/O: the new
        rows are APPENDED as the next ``batch=K`` dir; nothing existing
        is read or rewritten (existing-wins happens at read time in
        ``load_cache``). Cache-table error semantics: an unreadable/
        corrupt existing table is REPLACED by the new entries instead
        of failing the run — a cache is rebuildable by definition, and
        aborting the job to protect corrupt advisory data inverts the
        priorities (reference parity: cache errors degrade to
        recompute, ``TranslationQueue.js:58-83``).

        ``compact_after``: compact once the table holds this many
        batches (default ``COMPACT_AFTER``). Compaction replaces the
        files that DataFrames loaded earlier still read; a caller with
        such readers in flight passes a larger value to defer it.

        ``partition_by``: sub-partition each batch dir by these columns
        (``batch=K/p=V/...``). A reader that filters on them
        (``load_cache(where=...)``) then touches only the matching
        partition dirs — the lookup-table layout for registries probed
        by key prefix. Each column must be a pure function of ``key``
        so existing-wins stays exact under a pruned read. The SAME
        ``partition_by`` must be passed on every merge of the table."""
        path = os.path.join(self.root, name)
        self._heal_swap(path)

        def _write(d: DataFrame, target: str) -> None:
            w = d.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(target)

        if not os.path.exists(path):
            _write(df, os.path.join(path, "batch=0"))
            return
        batches = self._batch_ids(path)
        if not batches:
            # legacy flat layout (or a corrupt dir): fold the readable
            # rows into batch=0 once, or replace outright if unreadable
            existing = self.load_or_none(name)
            if existing is None:
                self._write_swap(
                    df, os.path.join(path, "batch=0"),
                    partition_by=partition_by,
                )
                # _write_swap wrote under path; clear stray flat files
                for f in os.listdir(path):
                    if not f.startswith("batch="):
                        fp = os.path.join(path, f)
                        if os.path.isfile(fp):
                            os.remove(fp)
                # the new entries ARE batch=0 now — appending them again
                # as batch=1 would persist the DataFrame twice
                return
            else:
                import shutil as _sh

                b0 = os.path.join(path, "batch=0")
                os.makedirs(b0, exist_ok=True)
                for f in list(os.listdir(path)):
                    fp = os.path.join(path, f)
                    if os.path.isfile(fp):
                        _sh.move(fp, os.path.join(b0, f))
                batches = [0]
        seq = batches[-1] + 1
        _write(df, os.path.join(path, f"batch={seq}"))
        limit = self.COMPACT_AFTER if compact_after is None else compact_after
        if len(batches) + 1 >= limit:
            self.compact_cache(name, key, partition_by=partition_by)

    def load_cache(
        self, name: str, key: str, where: "F.Column | None" = None
    ) -> DataFrame | None:
        """Key-unique view of a cache table written by ``merge_cache``
        (None when missing/unreadable): on a key collision across
        batches the EARLIEST batch wins — a cached result never
        changes. The ``batch`` partition column is dropped.

        ``where``: pushed below the existing-wins window, so a filter
        on the table's ``partition_by`` columns prunes partition dirs
        at the SCAN — the read touches only the probed buckets, not the
        whole history. Sound because partition columns are pure
        functions of ``key`` (every batch's rows for a key live in the
        same partition value), so the window still sees all of a
        surviving key's candidates."""
        from pyspark.sql import Window

        df = self.load_or_none(name)
        if df is None:
            return None
        if where is not None:
            df = df.filter(where)
        if "batch" not in df.columns:
            return df  # legacy single-write table, already key-unique
        w = Window.partitionBy(key).orderBy("batch")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "batch")
        )

    def compact_cache(
        self, name: str, key: str,
        partition_by: tuple[str, ...] | None = None,
    ) -> None:
        """Fold all batches into one (crash-safe whole-dir swap): the
        periodic O(table) cost that keeps reads cheap while merges stay
        O(new). No-op when the table is missing or unreadable.
        ``partition_by`` (same as the merges') keeps the pruned-read
        layout through compaction."""
        path = os.path.join(self.root, name)
        resolved = self.load_cache(name, key)
        if resolved is None:
            return
        compacted = resolved.withColumn("batch", F.lit(0))
        # stage under a sibling temp root so the swap replaces the
        # whole table dir atomically (batch=0 layout inside)
        import uuid as _uuid

        tmp_root = f"{path}.__compact_{_uuid.uuid4().hex[:8]}"
        try:
            compacted.write.partitionBy(
                "batch", *(partition_by or ())
            ).mode("overwrite").parquet(tmp_root)
            old = f"{path}.__swap_old_{_uuid.uuid4().hex[:8]}"
            os.rename(path, old)
            os.rename(tmp_root, path)
        except Exception:
            import shutil as _sh

            self._heal_swap(path)
            _sh.rmtree(tmp_root, ignore_errors=True)
            raise
        else:
            import shutil as _sh

            _sh.rmtree(old, ignore_errors=True)
