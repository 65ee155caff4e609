#!/usr/bin/env python
"""Stage-cost breakdown of the synthetic extraction headline.

Times (warm, best-of-R) each successively larger prefix of the
pipeline over the bench corpus, so the marginal cost of every stage is
the difference between adjacent rows:

  scan            force the raw documents scan
  ocr_side        the OCR half alone (distinct refs -> mapInPandas ->
                  per-doc map)
  full            the complete extract() (repartition + OCR-map join +
                  the mapInArrow span pass: sort, B, C, re-offset)

Usage: python tools/profile_synthetic.py [repeats]   (default 3)
Env:   SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SYN_DOCS (default 8000)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from ocr_translation_spark.datagen import write_fixture_parquet  # noqa: E402
from ocr_translation_spark.pipeline import extract  # noqa: E402
from ocr_translation_spark.session import get_spark  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_SYN_DOCS", "8000"))
    base = os.path.join("/tmp", f"ocr_xlate_bench_{n_docs}")
    if not os.path.exists(os.path.join(base, "documents.parquet")):
        write_fixture_parquet(base, n_docs=n_docs)
    spark = get_spark(
        "profile-synthetic",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
    media = spark.read.parquet(os.path.join(base, "media.parquet"))

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name, build):
        df = build()
        force(df)  # cold: JIT + codegen
        best = min(
            _t(lambda: force(df)) for _ in range(reps)
        )
        print(f"{name:10s} best_warm={best:6.3f}s")
        return best

    def _t(fn):
        t0 = time.monotonic()
        fn()
        return time.monotonic() - t0

    timed("scan", lambda: docs)

    def ocr_side():
        from ocr_translation_spark.operators.stage_a_ocr import (
            ocr_distinct_media,
        )

        refs = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.filter(
                            F.col("spans"),
                            lambda s: (s["kind"] == F.lit("media"))
                            & s["media_ref"].isNotNull(),
                        ),
                        lambda s: s["media_ref"],
                    )
                )
            ).alias("media_ref"),
        )
        needed = refs.select("media_ref").distinct()
        media_needed = media.join(needed, "media_ref", "left_semi")
        ocr_results, _ = ocr_distinct_media(media_needed)
        return (
            refs.join(
                ocr_results.select("media_ref", "ocr_text"),
                "media_ref",
                "left",
            )
            .groupBy("doc_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(
                        F.struct(
                            "media_ref", F.col("ocr_text").alias("_text")
                        )
                    )
                ).alias("_ocr")
            )
        )

    timed("ocr_side", ocr_side)
    timed("full", lambda: extract(spark, docs, media).result)
    spark.stop()


if __name__ == "__main__":
    main()
