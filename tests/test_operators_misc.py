"""Tests for partitioning, dedup_cache, catalog, translate parity,
and the streaming wrapper."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from ocr_translation_spark import datagen as G
from ocr_translation_spark import semantics as S
from ocr_translation_spark.operators.dedup_cache import dedup_compute_with_cache
from ocr_translation_spark.operators.partitioning import (
    media_weight,
    salted_repartition,
)
from ocr_translation_spark.operators.stage_b_boiler import (
    keep_mask,
    strip_boilerplate,
    tokenize,
)
from ocr_translation_spark.operators.stage_c_translate import (
    translate,
    translate_spans,
)
from ocr_translation_spark.sources.catalog import Catalog
from tests.conftest import load_fixture


def test_salted_repartition_spreads_heavy_keys(spark):
    # 1000 rows of one hot key with heavy weight + 1000 unique light keys
    hot = spark.range(1000).select(
        F.lit("hot").alias("doc_id"), F.lit(4096).alias("w")
    )
    light = spark.range(1000).select(
        F.concat(F.lit("k"), F.col("id")).alias("doc_id"), F.lit(1).alias("w")
    )
    df = hot.unionByName(light)
    unsalted = df.repartition(8, F.xxhash64("doc_id"))
    n_unsalted = (
        unsalted.groupBy(F.spark_partition_id().alias("p"))
        .count().agg(F.max("count")).collect()[0][0]
    )
    salted = salted_repartition(df, 8, weight_col="w", salt_buckets=8)
    n_salted = (
        salted.groupBy(F.spark_partition_id().alias("p"))
        .count().agg(F.max("count")).collect()[0][0]
    )
    # hot key concentrated ~1000+ rows unsalted; salted splits across buckets
    assert n_unsalted >= 1000
    assert n_salted < n_unsalted


def test_media_weight(spark, fixture_dir):
    docs = load_fixture(spark, fixture_dir, "documents")
    row = docs.filter(F.col("doc_id") == G.EDGE_MEDIA_ONLY).select(
        media_weight("spans").alias("w")
    ).collect()[0]
    assert row["w"] == 2


def test_dedup_cache_computes_once_per_distinct(spark):
    calls = spark.sparkContext.accumulator(0)

    def fn(series):
        calls.add(len(series))
        return series.map(lambda s: s.upper())

    df = spark.createDataFrame(
        [("a",), ("b",), ("a",), ("a",), ("b",)], "payload string"
    )
    out, new_cache = dedup_compute_with_cache(df, "payload", fn)
    rows = out.collect()
    assert {(r["payload"], r["result"]) for r in rows} == {
        ("a", "A"), ("b", "B"),
    }
    assert len(rows) == 5
    assert calls.value == 2  # one compute per distinct payload

    # warm cache run computes nothing
    cache = new_cache.cache()
    cache.count()
    calls2 = spark.sparkContext.accumulator(0)

    def fn2(series):
        calls2.add(len(series))
        return series.map(lambda s: s.upper())

    out2, _ = dedup_compute_with_cache(df, "payload", fn2, cache_df=cache)
    out2.collect()
    assert calls2.value == 0


def test_catalog_merge_idempotent(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df1 = spark.createDataFrame([("h1", "r1"), ("h2", "r2")], "h string, v string")
    cat.merge_by_key(df1, "cache", "h")
    # second merge with an overlapping key: existing row wins
    df2 = spark.createDataFrame([("h2", "CHANGED"), ("h3", "r3")], "h string, v string")
    cat.merge_by_key(df2, "cache", "h")
    got = {r["h"]: r["v"] for r in cat.load("cache").collect()}
    assert got == {"h1": "r1", "h2": "r2", "h3": "r3"}


def test_translate_matches_golden():
    texts = [
        "the fast spark", "", None, "UNKNOWN words HERE",
        "The  Fast   batch", "a of in on with",
    ]
    arr = pa.array(texts, pa.string())
    got = translate(arr, tokenize(arr)).to_pylist()
    assert got == [None if t is None else S.translate_text(t) for t in texts]


def test_stream_extract_availablenow(spark, fixture_dir, tmp_path):
    from ocr_translation_spark.pipeline import extract
    from ocr_translation_spark.streaming import stream_extract

    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    in_dir = str(tmp_path / "in")
    docs.write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_extract(spark, in_dir, out_dir, ckpt, media=media)
    q.awaitTermination(300)

    batch = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in extract(spark, docs, media).result.collect()
    }
    streamed = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch

    # restart with same checkpoint: no new data -> no duplicate output
    q2 = stream_extract(spark, in_dir, out_dir, ckpt, media=media)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(batch)


def test_asof_backward_edges(spark):
    """Backward as-of: inclusive ties, no-prior -> NULL, per-key
    isolation, carried value columns."""
    from ocr_translation_spark.functions.timeseries import asof_backward

    left = spark.createDataFrame(
        [("u1", 10, "p1"), ("u1", 20, "p2"), ("u1", 5, "p0"),
         ("u2", 10, "q1")],
        "user string, t int, pid string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 1.5), ("u1", 18, 2.5), ("u3", 1, 9.9)],
        "user string, t int, v double",
    )
    out = {
        r["pid"]: (r["t_asof"], r["v_asof"])
        for r in asof_backward(
            left, right, "user", "t", value_cols=["v"]
        ).collect()
    }
    assert out["p1"] == (10, 1.5)   # tie at t=10 is INCLUSIVE
    assert out["p2"] == (18, 2.5)   # latest at-or-before 20
    assert out["p0"] == (None, None)  # nothing precedes t=5
    assert out["q1"] == (None, None)  # u3's rows never leak to u2


def test_run_extract_cli_with_cache(spark, fixture_dir, tmp_path):
    """spark-submit-shaped CLI smoke: quarantine + growing cache +
    resume state wiring through jobs/run_extract.py main()."""
    import json
    import sys

    from jobs.run_extract import main

    out = str(tmp_path / "out")
    argv = [
        "--input", f"{fixture_dir}/documents.parquet",
        "--media", f"{fixture_dir}/media.parquet",
        "--output", out,
        "--state", str(tmp_path / "state"),
        "--buckets", "2",
        "--ocr-cache", str(tmp_path / "cache"),
        "--quarantine", str(tmp_path / "quar"),
    ]
    assert main(argv) == 0
    import os
    assert os.path.exists(os.path.join(str(tmp_path / "cache"), "ocr_cache"))
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # second run: fully resumed (no pending buckets), output unchanged
    assert main(argv) == 0
    assert spark.read.parquet(out).count() == n1


def test_asof_backward_matches_brute_force(spark):
    """Property check: the union-tag as-of equals the quadratic
    definition (latest right at-or-before, per key) on deterministic
    pseudo-random data with planted ties and empty keys."""
    from ocr_translation_spark.datagen import stable_int
    from ocr_translation_spark.functions.timeseries import asof_backward

    lrows = [
        (f"u{stable_int('lk', i) % 7}", stable_int("lt", i) % 100, f"L{i}")
        for i in range(120)
    ]
    rrows = list(
        {
            (f"u{stable_int('rk', i) % 5}", stable_int("rt", i) % 100): (
                float(i),
            )
            for i in range(60)
        }.items()
    )
    rrows = [(k, t, v[0]) for (k, t), v in rrows]
    left = spark.createDataFrame(lrows, "k string, t int, lid string")
    right = spark.createDataFrame(rrows, "k string, t int, v double")

    got = {
        r["lid"]: (r["t_asof"], r["v_asof"])
        for r in asof_backward(left, right, "k", "t", ["v"]).collect()
    }
    rmap: dict[str, list[tuple[int, float]]] = {}
    for k, t, v in rrows:
        rmap.setdefault(k, []).append((t, v))
    for k, t, lid in lrows:
        prior = [(rt, rv) for rt, rv in rmap.get(k, []) if rt <= t]
        expect = max(prior) if prior else (None, None)
        assert got[lid] == expect, (lid, got[lid], expect)


def test_stage_b_and_c_whitespace_parity_with_golden():
    """Tab/NBSP whitespace must behave exactly like the golden spec's
    str.strip()/str.split(): whitespace-only spans drop, leading tabs
    don't dilute the boiler score, interior unicode whitespace splits
    for translation (review finding, reproduced pre-fix)."""
    texts = [
        "\t",                      # whitespace-only: golden drops
        "\n\n",
        "\u00a0",                  # NBSP: python strip() removes it
        "\tclick here x",          # leading tab: golden 2/3 boiler
        "the\u00a0fast cat",       # interior NBSP splits in golden
        " normal words here ",
        "",
    ]
    arr = pa.array(texts)
    toks = tokenize(arr)
    keep = keep_mask(pa.array(["text"] * len(texts)), arr, toks)
    xlate = translate(arr, toks).to_pylist()
    for i, t in enumerate(texts):
        assert keep[i] == S.keep_span("text", t), (i, repr(t))
        assert xlate[i] == S.translate_text(t), (i, repr(t))


def test_span_sort_is_stable_like_golden(spark):
    """Duplicate offsets (legal input) must keep input order — the
    golden spec sorts with Python's STABLE sorted(key=offset)."""
    from ocr_translation_spark.pipeline import extract

    spans = [
        {"kind": "text", "text": "zebra words here", "media_ref": None,
         "offset": 5},
        {"kind": "text", "text": "apple words here", "media_ref": None,
         "offset": 5},
        {"kind": "text", "text": "middle words here", "media_ref": None,
         "offset": 1},
    ]
    docs = spark.createDataFrame(
        [("d1", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = [
        (s["kind"], s["text"], s["media_ref"])
        for s in extract(spark, docs, None).result.collect()[0]["spans"]
    ]
    from ocr_translation_spark import semantics as S

    exp = [
        (s["kind"], s["text"], s["media_ref"])
        for s in S.extract_doc(spans, {})
    ]
    assert got == exp  # middle, zebra, apple — input order on ties


def test_null_offsets_sort_first_in_input_order(spark):
    """The golden spec cannot sort a NULL offset (validate_documents
    quarantines it as ``null_offset``); extract() pins one placement:
    NULL offsets first, among themselves in input order. A NULL span
    element is dropped."""
    from ocr_translation_spark.pipeline import SPAN_STRUCT, extract

    def span(word, offset):
        return {"kind": "text", "text": word, "media_ref": None,
                "offset": offset}

    docs = spark.createDataFrame(
        [
            ("d1", [span("a", None), span("b", 1), span("c", 0)]),
            ("d2", [span("a", None), span("b", 1), None, span("c", 0),
                    span("d", None)]),
        ],
        f"doc_id string, spans array<{SPAN_STRUCT}>",
    )
    got = {
        r["doc_id"]: [(s["text"], s["offset"]) for s in r["spans"]]
        for r in extract(spark, docs, None).result.collect()
    }
    assert got == {
        "d1": [("một", 0), ("c", 1), ("b", 2)],
        "d2": [("một", 0), ("d", 1), ("c", 2), ("b", 3)],
    }


def test_standalone_strip_and_translate_match_golden(spark, fixture_dir):
    """strip_boilerplate keeps exactly the spans semantics.keep_span
    keeps (offsets untouched); translate_spans applies
    semantics.translate_text to every span's text; both pass other
    columns through unchanged."""
    from ocr_translation_spark.pipeline import SPAN_STRUCT

    def span(kind, text, offset):
        return {"kind": kind, "text": text, "media_ref": None,
                "offset": offset}

    edge = spark.createDataFrame(
        [
            ("e1", [span(None, "the fast", 0), span("text", "\t", 1),
                    span("tag_open", "<p>", 2), span("text", None, 3),
                    span("text", "click here x", 4)]),
            ("e2", None),
            ("e3", []),
        ],
        f"doc_id string, spans array<{SPAN_STRUCT}>",
    )
    docs = (
        load_fixture(spark, fixture_dir, "documents")
        .select("doc_id", "spans")
        .unionByName(edge)
        .withColumn("_n", F.size("spans"))
    )
    inp = {r["doc_id"]: r for r in docs.collect()}

    def rows(df):
        out = {r["doc_id"]: r for r in df.collect()}
        assert set(out) == set(inp)
        for d, r in out.items():
            assert r["_n"] == inp[d]["_n"], d
        return {d: r["spans"] for d, r in out.items()}

    stripped = rows(strip_boilerplate(docs))
    translated = rows(translate_spans(docs))
    for d, r in inp.items():
        if r["spans"] is None:
            assert stripped[d] is None and translated[d] is None
            continue
        assert stripped[d] == [
            s for s in r["spans"] if S.keep_span(s["kind"], s["text"])
        ], d
        assert [s.asDict() for s in translated[d]] == [
            dict(s.asDict(), text=None if s["text"] is None
                 else S.translate_text(s["text"]))
            for s in r["spans"]
        ], d


def test_dedup_cache_null_and_empty_payload_distinct(spark):
    """NULL and empty payloads must not conflate into one cache key
    (review finding: both hashed to sha2(b''))."""
    from ocr_translation_spark.operators.dedup_cache import (
        dedup_compute_with_cache,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x")], "i long, p string"
    )
    out, new_cache = dedup_compute_with_cache(
        df,
        "p",
        lambda s: s.map(lambda p: "<null>" if p is None else f"v[{p}]"),
        result_col="r",
    )
    got = {r["i"]: r["r"] for r in out.collect()}
    assert got == {1: "<null>", 2: "v[]", 3: "v[x]"}
    assert new_cache.count() == 3  # three distinct keys


def test_translate_cache_empty_lang_suffix(spark):
    """lang='' must not slice the whole payload away (p[:-0] trap)."""
    from ocr_translation_spark.operators.stage_c_translate import (
        translate_texts_with_cache,
    )

    df = spark.createDataFrame([("the fast cat",)], "text string")
    out, _ = translate_texts_with_cache(df, lang="")
    from ocr_translation_spark import semantics as S

    assert out.collect()[0]["translated"] == S.translate_text(
        "the fast cat"
    )


def test_resume_rejects_changed_bucket_count(spark, tmp_path):
    """Lineage bucket ids are only meaningful under the n_buckets that
    wrote them; a resume with a different count must refuse loudly."""
    import pytest as _pytest

    from ocr_translation_spark.operators.resume import ResumableRun

    docs = spark.createDataFrame(
        [("d1", [])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out, st = str(tmp_path / "out"), str(tmp_path / "state")
    ResumableRun(spark, out, st, n_buckets=4).run(docs, None)
    with _pytest.raises(ValueError, match="n_buckets"):
        ResumableRun(spark, out, st, n_buckets=8).run(docs, None)


def test_ingest_media_dir_duplicate_files_one_row(spark, tmp_path):
    """Byte-identical files share a content-address ref; the ingest
    must emit ONE row per ref (two rows abort extract() with
    DUPLICATED_MAP_KEY — review finding, reproduced pre-fix)."""
    from ocr_translation_spark.sources.binary_media import ingest_media_dir

    import os as _os

    d = tmp_path / "media"
    _os.makedirs(d)
    payload = b"SYNTHIMGsame-bytes"
    for name in ("a.png", "copy_of_a.png", "other.png"):
        with open(d / name, "wb") as f:
            f.write(payload if "a" in name else b"SYNTHIMGdifferent")
    media = ingest_media_dir(spark, str(d))
    rows = media.collect()
    refs = [r["media_ref"] for r in rows]
    assert len(refs) == len(set(refs)) == 2  # 2 distinct payloads
    kinds = {r["media_ref"]: r["media_kind"] for r in rows}
    assert all(k == "png" for k in kinds.values())


def test_tokenize_matches_python_split():
    """tokenize must split exactly where str.split() does — no more
    (ZWSP, word-joiner, BOM are NOT python whitespace), no fewer — with
    every BMP code point as a separator, a leading or trailing
    character, and doubled (utf8_split_whitespace yields '' pieces for
    the last three). Its lowering may differ from str.lower() only
    where neither side is ASCII: the dictionary and boiler keys are
    ASCII, so such a difference can never change a hit."""
    chars = [chr(i) for i in range(0x10000) if not 0xD800 <= i < 0xE000]
    texts = [t for c in chars for t in (f"a{c}b", f"{c}a", f"a{c}", f"a{c}{c}b")]
    toks = tokenize(pa.array(texts))
    assert toks.count.tolist() == [len(t.split()) for t in texts]
    words = [w for t in texts for w in t.split()]
    assert toks.words.to_pylist() == words
    for w, low in zip(words, toks.lower.to_pylist()):
        assert low == w.lower() or not (low.isascii() or w.lower().isascii()), (
            hex(ord(w[1])) if len(w) > 1 else w
        )


def test_run_curation_cli(spark, tmp_path):
    """spark-submit-shaped CLI smoke for the curation job: drop
    accounting is conserved and the output is duplicate-free."""
    import json as _json

    from jobs.run_curation import main

    docs = spark.createDataFrame(
        [
            (i, "common words here to share " + ("alpha beta gamma delta "
             * 6 if i % 4 else "alpha beta gamma delta " * 6), "s%d" % (i % 2))
            for i in range(24)
        ],
        "doc_id long, text string, source string",
    )
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "curated")
    rep = str(tmp_path / "report")
    assert main([
        "--input", inp, "--output", out, "--report", rep,
        "--per-source-cap", "5",
    ]) == 0
    kept = spark.read.parquet(out)
    n_out = kept.count()
    assert 0 < n_out <= 10  # 2 sources x cap 5
    r = spark.read.parquet(rep).collect()[0].asDict()
    # conservation: every drop is accounted for
    assert r["n_input"] == 24
    assert (
        r["n_input"] - r["n_dropped_neardup"] - r["n_dropped_quality"]
        - r["n_dropped_source_cap"] == r["n_output"] == n_out
    )
    # per-source cap honored
    per_src = kept.groupBy("source").count().collect()
    assert all(row["count"] <= 5 for row in per_src)
