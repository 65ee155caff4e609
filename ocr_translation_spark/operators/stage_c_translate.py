"""Stage C — dictionary + rule translation (en->vi), columnar by default.

Reference parity: ``src/utils/translator.js:8-23`` (the Google-translate
HTTP call) replaced by a deterministic token-wise dictionary with
identity fallback (FIXTURES.md section 3), plus the text-hash cache at
``src/utils/MessageQueue/TranslationQueue.js:53-83`` — which becomes
unnecessary as a TABLE here because the dictionary lookup is a pure
in-plan map literal (the cache would cost a shuffle to save a hash
lookup; see dedup_cache.py for the generic cached-compute operator used
where compute IS expensive).

Two implementations with identical semantics:

* ``translate_text_col`` / ``translate_spans`` — pure Catalyst: the
  ~200-entry dictionary is a ``create_map`` literal, applied with
  ``transform`` + ``element_at`` inside the span array. No Python, no
  shuffle (``transform`` is CodegenFallback on Spark 4.1, so the
  lambda is evaluated interpreted, token by token), and the dictionary
  ships with the plan (the moral equivalent of a broadcast variable
  for a dict this small; a million-entry dictionary would instead
  broadcast-join an exploded token stream).
* ``translate_series`` — vectorized pandas path (``pd.Series`` map)
  used by the property test proving both paths agree, and available
  for rule classes a map literal can't express.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, functions as F

from .. import semantics as S


def _dict_map_two_level() -> Column:
    """map<first_char, map<word, translation>> — GetMapValue on a map
    literal is a LINEAR scan, so one flat 202-entry map costs ~200
    string compares per token; bucketing by first character cuts that
    to ~26 + bucket size (~6x less compare work in the hot loop)."""
    buckets: dict[str, dict[str, str]] = {}
    for k, v in S.XLATE_DICT.items():
        buckets.setdefault(k[0], {})[k] = v
    pairs = []
    for c in sorted(buckets):
        inner = F.create_map(
            *[
                F.lit(x)
                for x in itertools.chain.from_iterable(sorted(buckets[c].items()))
            ]
        )
        pairs += [F.lit(c), inner]
    return F.create_map(*pairs)


def translate_tokens(toks: Column) -> Column:
    """Dictionary translation over a pre-tokenized span (the fused
    stage B+C path): map each token through the bucketed dict literal
    and re-join with single spaces — exactly
    ``" ".join(XLATE_DICT.get(t.lower(), t) for t in text.split())``."""
    dict_map = _dict_map_two_level()

    def xlate(t):
        low = F.lower(t)
        inner = F.element_at(dict_map, F.substring(low, 1, 1))
        return F.coalesce(F.element_at(inner, low), t)

    return F.array_join(F.transform(toks, xlate), " ")


def translate_text_col(text: Column) -> Column:
    """Columnar twin of ``semantics.translate_text`` (null-safe).
    Tokenization matches Python ``str.split()`` exactly (Unicode
    whitespace, no empty tokens — ``stage_b_boiler.py_tokens_strict``),
    so tab/NBSP-separated words translate identically to the golden
    spec (blank text -> empty token list -> "")."""
    from .stage_b_boiler import py_tokens_strict

    return F.when(text.isNull(), None).otherwise(
        translate_tokens(py_tokens_strict(text))
    )


def translate_spans(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Translate the text payload of every span in the array (stage C)."""
    return df.withColumn(
        spans_col,
        F.transform(
            F.col(spans_col),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                translate_text_col(s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    )


def translate_series(texts):
    """Vectorized pandas twin (for parity tests / pandas-UDF path)."""
    import pandas as pd

    def one(t):
        if t is None:
            return None
        return S.translate_text(t)

    return pd.Series([one(t) for t in texts])


def translate_texts_with_cache(
    df: DataFrame,
    text_col: str = "text",
    cache_df: DataFrame | None = None,
    use_cache: bool = True,
    lang: str = "vi",
):
    """Cached-compute variant of stage C (reference parity: the
    ``translate:<sha256(text+lang)>`` Redis cache at
    ``TranslationQueue.js:53-83``).

    With the offline dictionary the compute is cheap enough that the
    plain columnar path wins; this variant exists for the reference's
    cache semantics (and for rule classes priced like the original
    network call). Hash domain is ``sha256(text || lang)`` — WITHOUT
    reproducing the reference's quirk of concatenating the literal
    string "undefined" (SURVEY.md T5).

    Returns (df with ``translated`` column, new_cache_entries).
    """
    from .dedup_cache import dedup_compute_with_cache

    tagged = df.withColumn("_payload", F.concat(F.col(text_col), F.lit(lang)))
    out, new_cache = dedup_compute_with_cache(
        tagged,
        "_payload",
        lambda series: series.map(
            # p[: len(p) - len(lang)], NOT p[:-len(lang)]: for lang=""
            # the latter is p[:0] and every text would translate to ""
            lambda p: None
            if p is None
            else S.translate_text(p[: len(p) - len(lang)])
        ),
        result_col="translated",
        cache_df=cache_df,
        use_cache=use_cache,
    )
    return out.drop("_payload"), new_cache
