"""Per-layer metrics for the traced run.

Each layer's public call is timed from outside, inside a tracer span:
``operators.partitioning``, ``operators.stage_a_ocr``,
``operators.stage_b_boiler`` and ``operators.stage_c_translate`` once
each over the workload's own input, ``pipeline.extract`` with and
without the media table, and ``sources.catalog`` / ``operators.resume``
through a crash-and-resume pass (the workload's own passes on
``resume_cached``, one extra pass over the workload's input otherwise).
A lazy call is timed together with the action that runs it.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

import workloads as W
from ocr_translation_spark.operators.partitioning import media_weight, salted_repartition
from ocr_translation_spark.operators.stage_a_ocr import ocr_distinct_media
from ocr_translation_spark.operators.stage_b_boiler import strip_boilerplate
from ocr_translation_spark.operators.stage_c_translate import translate_spans
from ocr_translation_spark.pipeline import extract

LAYERS = (
    "session", "datagen", "partitioning", "stage_a", "stage_b", "stage_c",
    "pipeline", "catalog", "resume",
)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def sweep(wl, tracer) -> dict:
    """Call each layer once over ``wl``'s input; returns per-layer
    metrics as name -> (value, unit)."""
    spark, docs, media = wl.spark, wl.docs, wl.media
    m: dict = {}
    tracer.pass_id = "sweep"
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    with tracer.span("partitioning.salted_repartition"):
        rows = (
            salted_repartition(
                docs.withColumn("_w", media_weight("spans")), n_parts,
                key_col="doc_id", weight_col="_w", single_row_keys=True,
            )
            .select(F.spark_partition_id().alias("p"), "_w")
            .groupBy("p").agg(F.sum("_w").alias("w"))
            .collect()
        )
    weights = [r["w"] for r in rows]
    m["partitioning.busy_s"] = (tracer.durations("partitioning.salted_repartition")[-1], "s")
    m["partitioning.max_over_mean_weight"] = (
        max(weights) * n_parts / sum(weights) if sum(weights) else 1.0, "ratio",
    )

    needed = (
        docs.select(F.explode("spans.media_ref").alias("media_ref"))
        .where(F.col("media_ref").isNotNull())
        .distinct()
    )
    cache = wl.ocr_cache()
    # the "chars" sums read the produced text, so Spark cannot prune the
    # OCR / translation work out of these count-only jobs
    with tracer.span("stage_a.ocr_distinct_media"):
        results, computed = ocr_distinct_media(
            media.join(needed, "media_ref", "left_semi"), ocr_cache_df=cache
        )
        a = results.agg(
            F.count(F.lit(1)).alias("refs"),
            F.countDistinct("h").alias("payloads"),
            F.sum(F.length("ocr_text")).alias("chars"),
        ).collect()[0]
    n_computed = computed.count()
    m["stage_a.busy_s"] = (tracer.durations("stage_a.ocr_distinct_media")[-1], "s")
    m["stage_a.refs"] = (a["refs"], "count")
    m["stage_a.payloads"] = (a["payloads"], "count")
    m["stage_a.computed"] = (n_computed, "count")
    m["stage_a.dedup_ratio"] = (n_computed / a["refs"], "ratio")
    m["stage_a.cache_hit_ratio"] = (1.0 - n_computed / a["payloads"], "ratio")

    with tracer.span("stage_b.strip_boilerplate"):
        b = (
            strip_boilerplate(docs.withColumn("_n", F.size("spans")))
            .agg(F.sum("_n").alias("spans_in"), F.sum(F.size("spans")).alias("kept"))
            .collect()[0]
        )
    m["stage_b.busy_s"] = (tracer.durations("stage_b.strip_boilerplate")[-1], "s")
    m["stage_b.spans_in"] = (b["spans_in"], "count")
    m["stage_b.keep_ratio"] = (b["kept"] / b["spans_in"], "ratio")

    with tracer.span("stage_c.translate_spans"):
        c = (
            translate_spans(docs)
            .agg(
                F.sum(F.size("spans")).alias("spans"),
                F.sum(
                    F.aggregate(
                        "spans", F.lit(0).cast("long"),
                        lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
                    )
                ).alias("chars"),
            )
            .collect()[0]
        )
    m["stage_c.busy_s"] = (tracer.durations("stage_c.translate_spans")[-1], "s")
    m["stage_c.spans"] = (c["spans"], "count")

    out = os.path.join(wl.work_dir, "sweep_out")
    if not tracer.durations("pipeline.extract"):
        with tracer.span("pipeline.extract"):
            extract(spark, docs, media, ocr_cache=cache).result.write.mode(
                "overwrite"
            ).parquet(out)
    with tracer.span("pipeline.text_path"):
        extract(spark, docs, None).result.write.mode("overwrite").parquet(out)
    extract_s = _median(tracer.durations("pipeline.extract"))
    text_s = tracer.durations("pipeline.text_path")[-1]
    m["pipeline.extract_s"] = (extract_s, "s")
    m["pipeline.text_path_s"] = (text_s, "s")
    m["pipeline.ocr_branch_s"] = (extract_s - text_s, "s")
    m["pipeline.text_path_share"] = (text_s / extract_s, "ratio")
    m["pipeline.ocr_branch_share"] = ((extract_s - text_s) / extract_s, "ratio")

    if not isinstance(wl, W.ResumeWorkload):
        # the checkpointed form of the same job over this workload's input,
        # starting from an empty cache (no cold_pass, so no snapshot)
        rw = W.ResumeWorkload()
        rw.open(spark, wl.inputs, os.path.join(wl.work_dir, "sweep_resume"))
        rw.run_pass(tracer)
        wl = rw
    m.update(resume_metrics(wl, tracer))
    tracer.pass_id = None
    return m


def resume_metrics(rw, tracer) -> dict:
    """``catalog.*`` and ``resume.*`` per traced crash-and-resume pass,
    reported as the median over those passes."""
    traced = [h for h in rw.history if h["pass_id"] is not None]

    def per_pass(name):
        return [
            sum(
                s["end"] - s["start"] for s in tracer.spans
                if s["name"] == name and s["pass_id"] == h["pass_id"]
            )
            for h in traced
        ]

    run_s = per_pass("resume.run")
    return {
        "catalog.load_cache_s": (_median(per_pass("catalog.load_cache")), "s"),
        "catalog.merge_cache_s": (_median(per_pass("catalog.merge_cache")), "s"),
        "catalog.cache_batches": (traced[-1]["cache_batches"], "count"),
        "catalog.cache_rows": (traced[-1]["cache_rows"], "count"),
        "resume.run_s": (_median(run_s), "s"),
        "resume.bucket_work_s_p50": (
            _median([w for h in traced for w in h["wall_s"]]), "s",
        ),
        "resume.driver_overhead_s": (
            _median([r - sum(h["wall_s"]) for r, h in zip(run_s, traced)]), "s",
        ),
        "resume.committed_buckets_s": (
            _median(per_pass("resume.committed_buckets")), "s",
        ),
        "resume.buckets_redone": (max(h["redone"] for h in traced), "count"),
    }


def self_time_metrics(tracer) -> dict:
    st = tracer.self_times()
    return {f"self.{layer}_s": (st.get(layer, 0.0), "s") for layer in LAYERS}
