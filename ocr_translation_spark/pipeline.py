"""End-to-end extraction pipeline (stages A -> B -> C), Spark-first.

The distributed twin of ``semantics.extract_doc``; pytest asserts
span-sequence equality ``(kind, text, media_ref, order)`` per doc.

Physical shape (what .explain shows):

  main path   documents -> salted repartition (the entry hop) ->
              LEFT JOIN the per-doc OCR map on doc_id -> ONE
              MapInArrow (``_span_pass``). Spark hands it Arrow batches
              of ``spark.sql.execution.arrow.maxRecordsPerBatch`` docs
              (512, session.py); each batch's spans are flattened into
              plain columns and run through ``pyarrow.compute``
              kernels: stable offset sort, OCR text patch-in, tokenize
              once, stage B keep rule (stage_b_boiler.keep_mask),
              stage C translation (stage_c_translate.translate),
              re-offset, regroup. No Catalyst higher-order function
              (a CodegenFallback on Spark 4.1) is left on this path.

              AQE broadcasts the OCR map at runtime when it is small.
              When it is too large to broadcast, the join plans an
              ``Exchange hashpartitioning(doc_id)`` on top of the
              salted exchange, so the corpus is shuffled TWICE.
              The entry hop hashes (doc_id, salt); with one row per doc
              the salt cannot split a heavy doc, it only re-hashes it
              (see operators/partitioning.py).

  OCR side    documents -> explode the media REFS only (a few per doc)
              -> one row per ref with its fresh flag (did any doc opt
              out of the cache) -> inner join with the media table, the
              refs as the hash-build side (media payloads only ever
              stream) -> stage A (``stage_a_ocr.ocr_payloads``): one
              row per sha256, one cache probe, ONE mapInPandas over all
              distinct payloads -> explode back to refs, one value per
              ref -> join the per-doc refs -> regroup to a per-doc
              ref->text map (tiny rows).

OCR cost is per distinct payload, so document fan-in cannot
concentrate OCR compute.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import semantics as S
from .operators.partitioning import media_weight, salted_repartition
from .operators.span_arrow import flat_spans, regroup
from .operators.stage_a_ocr import computed_entries, ocr_payloads
from .operators.stage_b_boiler import keep_mask, tokenize
from .operators.stage_c_translate import translate

SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string,offset:int>"
OUT_SCHEMA = f"doc_id string, spans array<{SPAN_STRUCT}>"


class ExtractResult(NamedTuple):
    result: DataFrame
    new_ocr_cache: DataFrame  # (h, ocr_text) — MERGE into the cache table
    # Stage A's per-payload output, which both frames above read:
    # persist it before writing ``result`` and the cache merge reuses
    # the OCR pass instead of re-running it.
    ocr_payloads: DataFrame


def extract(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame | None = None,
    *,
    ocr_cache: DataFrame | None = None,
    use_cache: bool = True,
    cache_flag_col: str | None = None,
    num_partitions: int | None = None,
    salt_buckets: int = 8,
    pre_partitioned: bool = False,
) -> ExtractResult:
    """Run the full extraction over ``docs(doc_id, spans)``.

    ``media(media_ref, media_bytes)`` is the side table for stage A;
    pass None for corpora with no media payloads (stage A is skipped,
    media spans keep text=null — same as an unresolvable ref). A
    ``media_ref`` listed more than once resolves to ONE payload: rows
    with identical bytes are one payload, and among differing bytes the
    payload with the smallest sha256 (hex) wins.
    ``cache_flag_col``: optional per-doc boolean column — the
    reference's per-request ``cached`` flag (controllers/pdf.js:38):
    docs with False get FRESHLY computed OCR even on a cache hit (and
    never a possibly-stale cached value); NULL counts as True. The
    store stays unconditional either way.

    A row whose ``spans`` is NULL passes through with ``spans`` NULL,
    with or without media. To keep such rows (and other malformed
    input) out of the output, split the input with
    ``operators.quarantine.validate_documents`` first; it routes them
    to quarantine with reason ``null_spans``.

    Spans that ``validate_documents`` quarantines still have a defined
    output. A NULL ``offset`` (reason ``null_offset``; the golden spec
    cannot sort it) sorts FIRST in its doc, ahead of every non-NULL
    offset, and several NULL offsets keep their input order. A NULL
    span element is dropped. A NULL ``kind`` (reason
    ``unknown_span_kind``) is kept and translated, as
    ``semantics.extract_doc`` does.
    """
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    if media is None:
        resolved = None
        new_cache = payloads = spark.createDataFrame(
            [], "h string, ocr_text string"
        )
    else:
        # OCR side: explode ONLY the media refs (a few per doc) from the
        # un-repartitioned input — text spans never leave their array.
        flag = (
            F.coalesce(F.col(cache_flag_col), F.lit(True))
            if cache_flag_col is not None
            else F.lit(True)
        )
        refs_per_doc = docs.select(
            "doc_id",
            flag.alias("_use_cache"),
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
        # a ref needs a fresh compute if ANY doc using it opted out
        needed_refs = refs_per_doc.groupBy("media_ref").agg(
            F.max(~F.col("_use_cache")).alias("_fresh")
        )
        # The hint pins the refs as the build side. Left to AQE, the
        # inner join broadcasts whichever side a finished stage shows
        # small — the media payloads included.
        media_needed = media.join(
            needed_refs.hint("shuffle_hash"), "media_ref"
        )
        payloads = ocr_payloads(
            media_needed, ocr_cache, use_cache, fresh_col="_fresh"
        )
        new_cache = computed_entries(payloads)
        # one value per ref: min over (h, ...) picks the smallest sha256
        # when a ref maps to several payloads
        ocr_side = (
            payloads.select(
                F.explode("media_refs").alias("media_ref"),
                F.struct("h", "ocr_text", "ocr_text_fresh").alias("_o"),
            )
            .groupBy("media_ref")
            .agg(F.min("_o").alias("_o"))
        )
        # per-request routing: cached=True docs take the cache-preferred
        # value, cached=False docs the fresh one
        pick = F.struct(
            "media_ref",
            F.when(F.col("_use_cache"), F.col("_o.ocr_text"))
            .otherwise(F.col("_o.ocr_text_fresh"))
            .alias("_text"),
        )
        # Per-doc ref->text map: tiny rows through the regroup shuffle.
        # It has one row per media-bearing document, so it scales with
        # the CORPUS; AQE broadcasts it only when it is genuinely small.
        resolved = (
            refs_per_doc.join(ocr_side, "media_ref", "left")
            .groupBy("doc_id")
            .agg(F.map_from_entries(F.collect_list(pick)).alias("_ocr"))
        )

    # Explicit shuffle boundary (the reference's queue hop) for the span
    # pass and the output write. It spreads docs evenly by count,
    # not by bytes: the salt cannot split a one-row doc (see header).
    # ``pre_partitioned``: the input is ALREADY hash-distributed on
    # doc_id (a bucketed table / Iceberg bucket partition) — skip the
    # full-corpus repartition entirely; with a bucketed source the
    # per-doc OCR-map join needs no shuffle and no sort on the big
    # side, which is the layout a 100 TB deployment would use.
    main = docs.select("doc_id", "spans")
    if not pre_partitioned:
        main = salted_repartition(
            main.withColumn("_w", media_weight("spans")),
            num_partitions,
            key_col="doc_id",
            weight_col="_w",
            salt_buckets=salt_buckets,
            single_row_keys=True,  # one row per doc_id at the entry hop
        ).select("doc_id", "spans")
    if resolved is not None:
        main = main.join(resolved, "doc_id", "left")
    return ExtractResult(main.mapInArrow(_span_pass, OUT_SCHEMA), new_cache, payloads)


def _span_pass(batches):
    """The span pass over Arrow batches of ``doc_id, spans[, _ocr]``."""
    for batch in batches:
        spans = batch.column("spans")
        flat, row = flat_spans(spans)
        # stable: the golden spec sorts with Python's sorted(key=offset)
        order = pc.sort_indices(
            pa.table({"row": row, "offset": flat.field("offset")}),
            sort_keys=[("row", "ascending"), ("offset", "ascending")],
            null_placement="at_start",
        )
        flat, row = flat.take(order), row[order.to_numpy()]
        kind, text, ref = (flat.field(f) for f in ("kind", "text", "media_ref"))
        if "_ocr" in batch.schema.names:
            text = _patch_ocr(batch.column("_ocr"), row, kind, text, ref)
        toks = tokenize(text)
        kept = np.flatnonzero(keep_mask(kind, text, toks))
        row = row[kept]
        out = pa.StructArray.from_arrays(
            [
                kind.take(kept),
                translate(text, toks).take(kept),
                ref.take(kept),
                # re-offset: position among the row's kept spans
                pa.array(np.arange(len(row)) - np.searchsorted(row, row), pa.int32()),
            ],
            names=["kind", "text", "media_ref", "offset"],
        )
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), regroup(out, row, spans.is_null())],
            names=["doc_id", "spans"],
        )


def _patch_ocr(ocr: pa.MapArray, row, kind, text, ref) -> pa.Array:
    """A media span's text becomes its doc's OCR text for its ref, when
    the doc's ``ocr`` map has a non-NULL one."""
    # pc.list_parent_indices aborts the worker on a MapArray: walk the
    # offsets (they index the unsliced keys and items)
    offsets = ocr.offsets.to_numpy()
    owner = np.repeat(np.arange(len(ocr)), np.diff(offsets))
    entries = slice(offsets[0], offsets[-1])

    def keyed(rows, refs):  # "<row>:<ref>" is unique: a row is digits only
        return pc.binary_join_element_wise(pa.array(rows).cast(pa.string()), refs, ":")

    hit = pc.index_in(keyed(row, ref), value_set=keyed(owner, ocr.keys[entries]))
    is_media = pc.fill_null(pc.equal(kind, S.KIND_MEDIA), False)
    return pc.if_else(is_media, pc.coalesce(ocr.items[entries].take(hit), text), text)
