"""End-to-end extraction pipeline (stages A -> B -> C), Spark-first.

The distributed twin of ``semantics.extract_doc``; pytest asserts
span-sequence equality ``(kind, text, media_ref, order)`` per doc.

Physical shape (what .explain shows):

  main path   documents -> offset sort -> salted repartition (the
              entry hop) -> LEFT JOIN the per-doc OCR map on doc_id ->
              one projection: patch OCR text into the span array
              (element_at), stage B strip (array filter), stage C
              translate (map literal), re-offset. Span arrays never
              explode. The projection's stage is compiled, but on
              Spark 4.1 the higher-order functions it is built from
              (transform, filter, array_sort, exists) are
              CodegenFallback: each is evaluated interpreted, element
              by element.

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

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.partitioning import media_weight, salted_repartition
from .operators.stage_a_ocr import computed_entries, ocr_payloads

SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string,offset:int>"
OUT_SCHEMA = f"doc_id string, spans array<{SPAN_STRUCT}>"


class ExtractResult(NamedTuple):
    result: DataFrame
    new_ocr_cache: DataFrame  # (h, ocr_text) — MERGE into the cache table
    # Stage A's per-payload output, which both frames above read:
    # persist it before writing ``result`` and the cache merge reuses
    # the OCR pass instead of re-running it.
    ocr_payloads: DataFrame


def _sort_spans_by_offset(spans_col):
    # STABLE sort on an (offset, original-index, span) key struct:
    # structs compare field by field, so the index breaks offset ties.
    # The tie-break matters for parity: the golden spec uses Python's
    # STABLE sorted(key=offset), so two spans sharing an offset (legal
    # input even though datagen never produces it) must keep their
    # input order — a bare (offset, span) key would reorder them by
    # span content instead.
    keyed = F.transform(
        spans_col,
        lambda s, i: F.struct(
            s["offset"].alias("o"), i.alias("i"), s.alias("s")
        ),
    )
    return F.transform(F.array_sort(keyed), lambda x: x["s"])


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
        # The refs come from the UNSORTED spans: their order never
        # matters (array_distinct, then a per-doc map), and the offset
        # sort is a CodegenFallback that would otherwise run again under
        # each of the OCR side's two document scans.
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

    # Explicit shuffle boundary (the reference's queue hop) for the B+C
    # projection and the output write. It spreads docs evenly by count,
    # not by bytes: the salt cannot split a one-row doc (see header).
    # ``pre_partitioned``: the input is ALREADY hash-distributed on
    # doc_id (a bucketed table / Iceberg bucket partition) — skip the
    # full-corpus repartition entirely; with a bucketed source the
    # per-doc OCR-map join needs no shuffle and no sort on the big
    # side, which is the layout a 100 TB deployment would use.
    main = docs.select(
        "doc_id", _sort_spans_by_offset(F.col("spans")).alias("spans")
    )
    if not pre_partitioned:
        main = salted_repartition(
            main.withColumn("_w", media_weight("spans")),
            num_partitions,
            key_col="doc_id",
            weight_col="_w",
            salt_buckets=salt_buckets,
            single_row_keys=True,  # one row per doc_id at the entry hop
        ).select("doc_id", "spans")

    if resolved is None:
        all_docs = main
    else:
        all_docs = main.join(resolved, "doc_id", "left").select(
            "doc_id",
            F.transform(
                F.col("spans"),
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    F.when(
                        (s["kind"] == F.lit("media"))
                        & s["media_ref"].isNotNull(),
                        F.coalesce(
                            F.element_at(F.col("_ocr"), s["media_ref"]),
                            s["text"],
                        ),
                    )
                    .otherwise(s["text"])
                    .alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )

    # Stages B + C + re-offset fused into ONE expression chain that
    # tokenizes each span EXACTLY ONCE: an inner transform materializes
    # the Python-split token array into the span struct (a nested
    # transform node is evaluated once per row — the per-element
    # re-evaluation hazard applies to outer subtrees referenced inside
    # lambdas, not to the lambda's own input), the keep filter and the
    # dictionary translation then both read that array. The unfused
    # strip_boilerplate + translate_spans operators (same semantics,
    # used standalone and by tests) tokenize 3x per span — measured
    # ~25% slower end-to-end on the extraction headline after the
    # whitespace-parity fix priced tokenization up.
    from .operators.stage_b_boiler import keep_from_tokens, py_tokens_strict
    from .operators.stage_c_translate import translate_tokens

    toked = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            py_tokens_strict(s["text"]).alias("toks"),
        ),
    )
    kept = F.filter(
        toked, lambda t: keep_from_tokens(t["kind"], t["text"], t["toks"])
    )
    spans_out = F.transform(
        kept,
        lambda t, i: F.struct(
            t["kind"].alias("kind"),
            F.when(t["text"].isNull(), None)
            .otherwise(translate_tokens(t["toks"]))
            .alias("text"),
            t["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    result = all_docs.select("doc_id", spans_out.alias("spans"))
    return ExtractResult(result, new_cache, payloads)
