"""End-to-end golden-equality tests: Spark pipeline vs semantics.extract_doc.

The per-row invariant (BASELINE.json): span-sequence equality on
(kind, text, media_ref, order) per doc_id.
"""

from __future__ import annotations

import pytest

from ocr_translation_spark import datagen as G
from ocr_translation_spark.pipeline import extract
from tests.conftest import load_fixture


def _collect_spans(df):
    out = {}
    for row in df.collect():
        out[row["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"]) for s in row["spans"]
        ]
    return out


@pytest.fixture(scope="module")
def golden():
    docs = G.gen_documents(100)
    media = G.gen_media_table(G.collect_media_refs(docs))
    g = G.golden_extracted(docs, media)
    return {
        d: [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        for d, spans in g.items()
    }


def test_extract_matches_golden(spark, fixture_dir, golden):
    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    res = extract(spark, docs, media)
    got = _collect_spans(res.result)
    assert set(got) == set(golden)
    for d in sorted(golden):
        assert got[d] == golden[d], f"span mismatch for {d}"


def test_extract_offsets_reenumerated(spark, fixture_dir):
    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    res = extract(spark, docs, media).result
    for row in res.collect():
        offs = [s["offset"] for s in row["spans"]]
        assert offs == list(range(len(offs)))


def test_extract_no_media_table(spark, fixture_dir, golden):
    """media=None: media spans keep text NULL but survive; text path intact."""
    docs = load_fixture(spark, fixture_dir, "documents")
    res = extract(spark, docs, media=None).result
    got = _collect_spans(res)
    for d, spans in got.items():
        for kind, text, ref in spans:
            if kind == "media":
                assert text is None and ref is not None


def test_parallelism_invariance(spark, fixture_dir, golden):
    """Output must not depend on partitioning (SURVEY section 5 property b)."""
    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    got1 = _collect_spans(
        extract(spark, docs.repartition(1), media, num_partitions=2).result
    )
    got17 = _collect_spans(
        extract(spark, docs.repartition(17), media, num_partitions=13).result
    )
    assert got1 == got17 == golden


def test_cache_on_equals_cache_off(spark, fixture_dir, golden):
    """Reference T10: cached flag changes cost, never results."""
    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    off = _collect_spans(extract(spark, docs, media, use_cache=False).result)
    # warm cache: run once, collect new entries, feed them back in
    first = extract(spark, docs, media, use_cache=True)
    cache = first.new_ocr_cache.cache()
    assert cache.count() > 0
    on = _collect_spans(
        extract(spark, docs, media, ocr_cache=cache, use_cache=True).result
    )
    assert off == on == golden


def test_preseeded_cache_overrides_compute(spark, fixture_dir):
    """A cache hit must short-circuit OCR (reference OCRQueue.js:72-80)."""
    from pyspark.sql import functions as F

    docs = load_fixture(spark, fixture_dir, "documents").filter(
        F.col("doc_id") == G.EDGE_MEDIA_ONLY
    )
    media = load_fixture(spark, fixture_dir, "media")
    # poison the cache for every hash: if lookup happens, output shows it
    poisoned = media.select(
        F.sha2("media_bytes", 256).alias("h"), F.lit("POISON").alias("ocr_text")
    )
    res = extract(spark, docs, media, ocr_cache=poisoned, use_cache=True).result
    spans = _collect_spans(res)[G.EDGE_MEDIA_ONLY]
    assert all(t == "POISON" for _, t, _ in spans)
    # and with use_cache=False the poison is ignored (store-only semantics)
    res2 = extract(spark, docs, media, ocr_cache=poisoned, use_cache=False).result
    spans2 = _collect_spans(res2)[G.EDGE_MEDIA_ONLY]
    assert all(t != "POISON" for _, t, _ in spans2)


def test_pre_partitioned_bucketed_input_equals_default(
    spark, fixture_dir, tmp_path
):
    """The shuffle-free bucketed-input plan (extract(pre_partitioned=
    True) over a CLUSTERED BY doc_id table) must produce byte-identical
    span sequences to the default salted-repartition plan."""
    from ocr_translation_spark.datagen import write_bucketed_documents

    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    golden = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in extract(spark, docs, media).result.collect()
    }

    write_bucketed_documents(spark, fixture_dir, n_buckets=8)
    bdocs = spark.table("documents_bucketed")
    out = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in extract(
            spark, bdocs, media, pre_partitioned=True
        ).result.collect()
    }
    assert out == golden


def _media_with_dups(spark, media, extra):
    """The fixture media table plus ``extra`` (media_ref, bytes) rows
    that repeat refs it already lists."""
    rows = [(r, b, "png") for r, b in extra]
    return media.unionByName(spark.createDataFrame(rows, media.schema))


def _golden_by_smallest_sha(extra):
    """Golden spans when each duplicated ref resolves to its payload
    with the smallest sha256 — the rule extract() documents."""
    import hashlib

    docs = G.gen_documents(100)
    rows = G.gen_media_table(G.collect_media_refs(docs))
    by_ref = {r: [b] for r, b, _ in rows}
    for r, b in extra:
        by_ref[r].append(b)
    lookup = [
        (r, min(bs, key=lambda b: hashlib.sha256(b).hexdigest()), None)
        for r, bs in by_ref.items()
    ]
    g = G.golden_extracted(docs, lookup)
    return {
        d: [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        for d, spans in g.items()
    }


def test_duplicate_media_ref_identical_bytes(spark, fixture_dir, golden):
    """A ref listed twice with the same bytes is one payload: the
    output is the normal golden output (it used to abort the job with
    DUPLICATED_MAP_KEY)."""
    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    refs = [r["media_ref"] for r in media.orderBy("media_ref").limit(3).collect()]
    dup_rows = [
        (r["media_ref"], r["media_bytes"])
        for r in media.filter(media.media_ref.isin(refs)).collect()
    ]
    got = _collect_spans(
        extract(spark, docs, _media_with_dups(spark, media, dup_rows)).result
    )
    assert got == golden


def test_duplicate_media_ref_differing_bytes_smallest_sha_wins(
    spark, fixture_dir
):
    import hashlib

    from ocr_translation_spark import semantics as S

    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    orig = {
        r["media_ref"]: r["media_bytes"]
        for r in media.orderBy("media_ref").limit(6).collect()
    }
    # one extra payload per ref; the seeds are chosen so the duplicate
    # wins for some refs and the original wins for others
    extra, wins = [], set()
    for i, (ref, b) in enumerate(sorted(orig.items())):
        dup = S.encode_media([(f"dup{i}", 0, 0), ("table", 1, 0)])
        extra.append((ref, dup))
        if hashlib.sha256(dup).hexdigest() < hashlib.sha256(b).hexdigest():
            wins.add(ref)
    assert 0 < len(wins) < len(orig)

    expected = _golden_by_smallest_sha(extra)
    got = _collect_spans(
        extract(spark, docs, _media_with_dups(spark, media, extra)).result
    )
    assert got == expected
    # the rule is observable: some doc shows a winning duplicate's text
    texts = {t for spans in got.values() for _, t, r in spans if r in wins}
    assert any(t and t.startswith("dup") for t in texts)


@pytest.mark.parametrize("with_media", [True, False])
def test_null_spans_pass_through(spark, fixture_dir, golden, with_media):
    """NULL spans pass through extract() as NULL (documented contract);
    validate_documents is the route that quarantines them."""
    from ocr_translation_spark.operators.quarantine import validate_documents

    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media") if with_media else None
    null_row = spark.createDataFrame([("doc_null_spans", None)], docs.schema)
    with_null = docs.unionByName(null_row)

    rows = {
        r["doc_id"]: r["spans"]
        for r in extract(spark, with_null, media).result.collect()
    }
    assert rows.pop("doc_null_spans", "missing") is None
    assert set(rows) == set(golden)
    if with_media:
        assert {
            d: [(s["kind"], s["text"], s["media_ref"]) for s in spans]
            for d, spans in rows.items()
        } == golden

    split = validate_documents(with_null)
    assert [
        (r["doc_id"], r["reason"]) for r in split.quarantined.collect()
    ] == [("doc_null_spans", "null_spans")]
