"""Structured-Streaming wrapper over the batch extraction pipeline.

The reference is request-driven (SSE push per job); the batch north
rule needs no streaming — but a continuously-fed documents table is the
natural production shape, so this provides the idiomatic wrapper:

``readStream`` over the input directory -> ``foreachBatch`` running the
SAME ``extract()`` plan per micro-batch -> parquet append, with
``Trigger.AvailableNow`` for catch-up-and-stop semantics and the
streaming checkpoint for exactly-once progress (the streaming twin of
operators/resume.py; both make re-processing idempotent, one at the
micro-batch level, one at the bucket level).

``foreachBatch`` is the right tool here because the media branch of the
pipeline contains a per-doc regroup (aggregation), which append-mode
streaming cannot express statelessly; per-micro-batch it is just a
batch plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import OUT_SCHEMA, extract


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    media: DataFrame | None = None,
    available_now: bool = True,
    cache_dir: str | None = None,
    **extract_kwargs,
):
    """Run the extraction as a stream; returns the StreamingQuery.

    With ``available_now=True`` the query drains existing input files
    and stops (use ``query.awaitTermination()``).
    ``cache_dir``: optional persisted ``ocr_cache`` table maintained
    INCREMENTALLY — each micro-batch's new OCR results are merged in
    crash-safely after the batch's output lands, and the next
    micro-batch reads them as hits (the streaming twin of
    ``ResumableRun``'s per-bucket store-always wiring; an unreadable
    cache degrades to recompute, never aborts the query).
    """
    stream = (
        spark.readStream.schema(OUT_SCHEMA)  # input shares the span schema
        .parquet(input_dir)
    )
    if cache_dir is not None:
        from ..sources.catalog import Catalog

        cache_cat = Catalog(spark, cache_dir)
    else:
        cache_cat = None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        kwargs = dict(extract_kwargs)
        if cache_cat is not None and "ocr_cache" not in kwargs:
            kwargs["ocr_cache"] = cache_cat.load_cache("ocr_cache", "h")
        res = extract(spark, batch_df, media, **kwargs)
        res.ocr_payloads.persist()
        res.result.write.mode("append").parquet(output_dir)
        if cache_cat is not None and media is not None:
            cache_cat.merge_cache(res.new_ocr_cache, "ocr_cache", "h")
        res.ocr_payloads.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
