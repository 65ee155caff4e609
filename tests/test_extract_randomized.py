"""Randomized differential test: Spark ``extract()`` against the golden
spec ``semantics.extract_doc`` — one Spark job per configuration over a
seed-fixed random corpus (the repo's randomized-parity pattern: broad
input coverage without per-example Spark jobs).

The corpus plants the edge shapes the OCR branch and the fused B+C
chain must agree with the golden spec on:

* media refs shared across documents, and two refs with identical bytes;
* a media ref missing from the media table, and a media span with a
  NULL ref;
* spans sharing an offset (the golden spec's sort is stable);
* NULL text, empty text and empty span lists;
* Python whitespace beyond ASCII (NBSP, em space, ideographic space,
  NEL, the C0 separators) inside text and OCR tokens;
* per-document ``cached`` flags (True / False / NULL) against an OCR
  cache that hits only part of the referenced payloads.

The cache is POISONED — each cached payload maps to a sentinel text —
so the per-request routing is observable: a document that uses the
cache must see the sentinel, a document that opted out must see the
fresh OCR. The golden side models a cache hit by handing
``extract_doc`` a payload whose OCR is that sentinel.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from ocr_translation_spark import semantics as S
from ocr_translation_spark.pipeline import SPAN_STRUCT, extract

_SEED = 0xE7A
_WS = (" ", " ", "\t", "\n", " ", " ", "　", "\x85", "\x1c")
_VOCAB = (
    list(S._CORE_DICT)[:40]
    + list(S.BOILER_TOKENS)[:12]
    + ["Spark", "THE", "zzq", "naïve", "Straße", "x1", "", "ok"]
)
_KINDS = ("text", "text", "text", "media", "media", "boiler", "tag_open",
          "tag_close")


def _text(rng):
    n = rng.randint(0, 7)
    out = [rng.choice(_WS) * rng.randint(0, 1)]
    for _ in range(n):
        out.append(rng.choice(_VOCAB))
        out.append(rng.choice(_WS) * rng.randint(1, 2))
    return "".join(out)


def _payload(rng, i):
    toks = [
        (rng.choice(_VOCAB) or "w", rng.randint(0, 3), rng.randint(0, 9))
        for _ in range(rng.randint(0, 5))
    ]
    # a unique tail token keeps distinct refs on distinct bytes, except
    # for the planted identical-bytes pair
    toks.append((f"p{i}", 9, 9))
    return S.encode_media(toks)


def _corpus():
    rng = random.Random(_SEED)
    n_refs = 40
    refs = [f"ref_{i:03d}" for i in range(n_refs)]
    media = {r: _payload(rng, i) for i, r in enumerate(refs)}
    media["ref_same_bytes"] = media["ref_000"]  # identical bytes, two refs
    pool = refs + ["ref_same_bytes", "ref_missing", None]

    docs = []
    for d in range(90):
        spans = []
        n = rng.choice((0, 1, 3, 6, 10, 14))
        for _ in range(n):
            kind = rng.choice(_KINDS)
            text = None if rng.random() < 0.15 else _text(rng)
            ref = rng.choice(pool) if kind == "media" else None
            # duplicate offsets: the offset space is narrower than n
            spans.append(
                {"kind": kind, "text": text, "media_ref": ref,
                 "offset": rng.randint(0, max(0, n - 3))}
            )
        flag = rng.choice((True, False, None))
        docs.append((f"doc_{d:03d}", spans, flag))

    hashes = {r: hashlib.sha256(b).hexdigest() for r, b in media.items()}
    cached = sorted({h for h in hashes.values()})[::2]  # about half hit
    poison = {
        h: S.encode_media([(f"poison{i}", 0, 0)]) for i, h in enumerate(cached)
    }
    return docs, media, hashes, poison


@pytest.fixture(scope="module")
def corpus(spark):
    docs, media, hashes, poison = _corpus()
    docs_df = spark.createDataFrame(
        [(d, spans, flag) for d, spans, flag in docs],
        f"doc_id string, spans array<{SPAN_STRUCT}>, cached boolean",
    )
    media_df = spark.createDataFrame(
        sorted(media.items()), "media_ref string, media_bytes binary"
    )
    cache_rows = [(h, S.ocr_text(b)) for h, b in poison.items()]
    cache_rows.append(("f" * 64, "unreferenced"))  # a row nobody probes
    cache_df = spark.createDataFrame(cache_rows, "h string, ocr_text string")
    return docs, media, hashes, poison, docs_df, media_df, cache_df


def _golden(docs, media, hashes, poison, *, with_media, cache, flags):
    out = {}
    for d, spans, flag in docs:
        lookup = {}
        if with_media:
            use_cache = cache and (flag is not False or not flags)
            for r, b in media.items():
                h = hashes[r]
                lookup[r] = poison[h] if use_cache and h in poison else b
        out[d] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in S.extract_doc(spans, lookup)
        ]
    return out


_CONFIGS = {
    # name: (with_media, pass the cache, use_cache, per-doc flags)
    "no_cache": (True, False, True, False),
    "cache_all_docs": (True, True, True, False),
    "cache_mixed_flags": (True, True, True, True),
    "cache_ignored": (True, True, False, True),
    "no_media": (False, False, True, False),
}


@pytest.mark.parametrize("config", sorted(_CONFIGS))
def test_extract_random_parity(spark, corpus, config):
    docs, media, hashes, poison, docs_df, media_df, cache_df = corpus
    with_media, pass_cache, use_cache, flags = _CONFIGS[config]
    res = extract(
        spark,
        docs_df if flags else docs_df.drop("cached"),
        media_df if with_media else None,
        ocr_cache=cache_df if pass_cache else None,
        use_cache=use_cache,
        cache_flag_col="cached" if flags else None,
    )
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in res.result.collect()
    }
    exp = _golden(
        docs, media, hashes, poison, with_media=with_media,
        cache=pass_cache and use_cache, flags=flags,
    )
    assert set(got) == set(exp)
    bad = [d for d in sorted(exp) if got[d] != exp[d]]
    assert not bad, (bad[:3], [(got[d], exp[d]) for d in bad[:1]])
