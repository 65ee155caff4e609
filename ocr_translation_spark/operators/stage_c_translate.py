"""Stage C — dictionary + rule translation (en->vi), as Arrow compute.

Reference parity: ``src/utils/translator.js:8-23`` (the Google-translate
HTTP call) replaced by a deterministic token-wise dictionary with
identity fallback (FIXTURES.md section 3), plus the text-hash cache at
``src/utils/MessageQueue/TranslationQueue.js:53-83`` — which becomes
unnecessary as a TABLE here because the dictionary lookup is a hash
probe inside the batch (the cache would cost a shuffle to save it; see
dedup_cache.py for the generic cached-compute operator used where
compute IS expensive).

``translate`` works on one Arrow batch's span texts, flattened: the
tokens of stage B's ``tokenize`` are looked up in the ~200-entry
dictionary with ``index_in`` (a hash table built once per batch),
``take`` the translations, fall back to the token with ``coalesce``
and are re-joined per span with ``binary_join``. ``pipeline.extract``
calls it inside its one ``mapInArrow``; ``translate_spans`` wraps it
in a ``mapInArrow`` of its own. A million-entry dictionary would
instead broadcast-join an exploded token stream.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from .. import semantics as S
from .span_arrow import map_spans, regroup
from .stage_b_boiler import Tokens, tokenize

_KEYS = pa.array(list(S.XLATE_DICT))
_VALUES = pa.array(list(S.XLATE_DICT.values()))


def translate(text: pa.Array, toks: Tokens) -> pa.Array:
    """``semantics.translate_text`` per span; ``toks`` is
    ``tokenize(text)``. NULL text stays NULL, blank text becomes ""."""
    words = pc.coalesce(
        _VALUES.take(pc.index_in(toks.lower, value_set=_KEYS)), toks.words
    )
    return pc.binary_join(regroup(words, toks.span, text.is_null()), " ")


def translate_spans(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Translate the text payload of every span in the array (stage C);
    other columns pass through."""

    def run(spans: pa.StructArray):
        fields = {f.name: spans.field(f.name) for f in spans.type}
        fields["text"] = translate(fields["text"], tokenize(fields["text"]))
        out = pa.StructArray.from_arrays(list(fields.values()), names=list(fields))
        return out, np.ones(len(out), bool)

    return map_spans(df, spans_col, run)


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
