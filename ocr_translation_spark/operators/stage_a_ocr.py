"""Stage A — OCR / layout parse over DISTINCT media payloads.

Reference parity: ``src/utils/ocr.js:13-17`` (Tesseract recognize) plus
the content-hash cache at ``src/utils/MessageQueue/OCRQueue.js:65-90``.

Scale design (the part that matters at 100 TB):

* OCR is the expensive step, so we NEVER run it per span occurrence.
  Rows are grouped by ``sha2(media_bytes, 256)`` (byte-level content
  hash, reference ``src/utils/hash.js:5-14``) into one row per distinct
  payload, so two refs with identical bytes share one OCR call — the
  Spark re-expression of the reference's Redis ``ocr:<sha256>`` cache
  (dedup-before-compute, SURVEY.md section 4.1).
* One cache probe per payload, then ONE ``mapInPandas`` pass over all
  payloads: a payload whose bytes arrive NULL (a cache hit no request
  asked to refresh) passes through without compute. The referencing
  refs ride along as an array and are exploded after the pass, so the
  payload aggregate is read once and nothing joins back to it.
* The Python boundary works on Arrow batches — many payloads per batch,
  no per-row Python round trips. Batch size is capped session-wide
  (session.py) because payloads are large.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import semantics as S

OCR_OUT_SCHEMA = (
    "h string, media_refs array<string>, cached_text string, "
    "ocr_text_fresh string"
)


def _ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """OCR over Arrow batches of (h, media_refs, media_bytes, cached_text):
    NULL bytes mean nothing to compute."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "h": pdf["h"],
                "media_refs": pdf["media_refs"],
                "cached_text": pdf["cached_text"],
                "ocr_text_fresh": [
                    None if b is None else S.ocr_text(b)
                    for b in pdf["media_bytes"]
                ],
            }
        )


def ocr_payloads(
    media_df: DataFrame,
    ocr_cache_df: DataFrame | None = None,
    use_cache: bool = True,
    fresh_col: str | None = None,
) -> DataFrame:
    """OCR each distinct media payload once; one row per payload.

    ``media_df``: (media_ref, media_bytes, ...) — the referenced refs.
    ``ocr_cache_df``: optional persisted cache (h string, ocr_text string).
    ``fresh_col``: optional boolean column on media_df — True when some
    referencing request asked for a FRESH compute (the reference's
    per-request ``cached`` flag, ``controllers/pdf.js:38``): those
    payloads are recomputed even on a cache hit, so the caller can route
    per request between ``ocr_text`` (cache-preferred) and
    ``ocr_text_fresh``.

    Returns (h, media_refs, ocr_text, ocr_text_fresh); ``ocr_text_fresh``
    is NULL exactly for the payloads that were not computed this run.
    """
    fresh = (
        F.coalesce(F.col(fresh_col), F.lit(False))
        if fresh_col is not None
        else F.lit(False)
    )
    payloads = media_df.groupBy(F.sha2("media_bytes", 256).alias("h")).agg(
        F.collect_set("media_ref").alias("media_refs"),
        F.first("media_bytes").alias("media_bytes"),
        F.max(fresh).alias("_fresh"),
    )
    if use_cache and ocr_cache_df is not None:
        cache = ocr_cache_df.select("h", F.col("ocr_text").alias("cached_text"))
        payloads = payloads.join(cache, "h", "left")
    else:
        payloads = payloads.withColumn("cached_text", F.lit(None).cast("string"))
    need = F.col("cached_text").isNull() | F.col("_fresh")
    return payloads.select(
        "h",
        "media_refs",
        F.when(need, F.col("media_bytes")).alias("media_bytes"),
        "cached_text",
    ).mapInPandas(_ocr_batches, schema=OCR_OUT_SCHEMA).select(
        "h",
        "media_refs",
        F.coalesce("cached_text", "ocr_text_fresh").alias("ocr_text"),
        "ocr_text_fresh",
    )


def computed_entries(payloads: DataFrame) -> DataFrame:
    """The (h, ocr_text) rows ``ocr_payloads`` computed this run — the
    caller MERGEs them into the cache table. Store semantics differ
    DELIBERATELY from the reference's unconditional overwrite
    (OCRQueue.js:85): the merge is EXISTING-WINS (catalog.merge_cache),
    so a fresh recompute never replaces a stored value. Equivalent
    observable behavior because this OCR is deterministic, and
    existing-wins is what makes concurrent/restarted bucket merges
    idempotent."""
    return payloads.filter(F.col("ocr_text_fresh").isNotNull()).select(
        "h", F.col("ocr_text_fresh").alias("ocr_text")
    )


def ocr_distinct_media(
    media_df: DataFrame,
    ocr_cache_df: DataFrame | None = None,
    use_cache: bool = True,
    fresh_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``ocr_payloads`` per ref: returns ``(results, new_cache_entries)``
    where results is (media_ref, h, ocr_text, ocr_text_fresh) covering
    every input ref and new_cache_entries is ``computed_entries``."""
    payloads = ocr_payloads(media_df, ocr_cache_df, use_cache, fresh_col)
    results = payloads.select(
        F.explode("media_refs").alias("media_ref"),
        "h",
        "ocr_text",
        "ocr_text_fresh",
    )
    return results, computed_entries(payloads)
