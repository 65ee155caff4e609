"""Stage B — boilerplate / markup strip, as Arrow compute over flat spans.

Reference parity: the validation guards at ``src/utils/pdf.js:14-22``
(empty-text rejection) generalized to DOM/boilerplate heuristics:
markup spans (``tag_open``/``tag_close``) and ``boiler`` spans are
dropped, and ``text`` spans are scored by boilerplate-token density
(kin of tag-density / text-to-markup-ratio scoring) and dropped above
``semantics.BOILER_THRESHOLD``.

``tokenize`` and ``keep_mask`` work on one Arrow batch's spans
flattened into plain columns (one entry per span), with
``pyarrow.compute`` kernels and numpy — no per-span Python.
``pipeline.extract`` calls them inside its one ``mapInArrow``;
``strip_boilerplate`` wraps them in a ``mapInArrow`` of its own.
Exactly the semantics of ``semantics.keep_span`` (the golden spec).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .. import semantics as S
from .span_arrow import map_spans

_BOILER_TOKENS = pa.array(sorted(S.BOILER_TOKEN_SET))
_DROP_KINDS = pa.array([S.KIND_BOILER, S.KIND_TAG_OPEN, S.KIND_TAG_CLOSE])


class Tokens(NamedTuple):
    """``str.split()`` of every span's text, flattened in span order."""

    words: pa.Array  # the tokens
    lower: pa.Array  # the tokens lowered like ``str.lower()``
    span: np.ndarray  # index of the span each token belongs to
    count: np.ndarray  # tokens per span (0 for NULL or blank text)


def tokenize(text: pa.Array) -> Tokens:
    """``str.split()`` + ``str.lower()`` over a string array.

    ``utf8_split_whitespace`` splits on exactly Python's 29 whitespace
    code points, but returns ``''`` pieces for leading, trailing and
    repeated whitespace, so those are dropped. ``utf8_lower`` lowers
    U+0130 (İ) to ``i`` where Python gives ``i̇`` (which would make
    ``İs`` hit the key ``is``), so U+0130 is expanded first.
    """
    pieces = pc.utf8_split_whitespace(text)
    words = pieces.flatten()
    nonempty = pc.not_equal(words, "")
    words = words.filter(nonempty)
    span = pc.list_parent_indices(pieces).filter(nonempty).to_numpy()
    lower = pc.utf8_lower(pc.replace_substring(words, "\u0130", "i\u0307"))
    return Tokens(words, lower, span, np.bincount(span, minlength=len(text)))


def keep_mask(kind: pa.Array, text: pa.Array, toks: Tokens) -> np.ndarray:
    """``semantics.keep_span`` per span; ``toks`` is ``tokenize(text)``.
    A NULL kind is not in the drop set and is not ``text``: kept."""
    boiler = pc.is_in(toks.lower, value_set=_BOILER_TOKENS).to_numpy(
        zero_copy_only=False
    )
    hits = np.bincount(toks.span[boiler], minlength=len(kind))
    n = toks.count
    score = np.divide(hits, n, out=np.zeros(len(n)), where=n > 0)
    is_text = pc.fill_null(pc.equal(kind, S.KIND_TEXT), False).to_numpy(
        zero_copy_only=False
    )
    bad_text = is_text & ((n == 0) | (score > S.BOILER_THRESHOLD))
    dropped = pc.is_in(kind, value_set=_DROP_KINDS).to_numpy(zero_copy_only=False)
    return ~dropped & ~bad_text


def strip_boilerplate(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Filter each row's span array down to content spans (stage B);
    the kept spans keep their offsets, other columns pass through."""

    def strip(spans: pa.StructArray):
        text = spans.field("text")
        return spans, keep_mask(spans.field("kind"), text, tokenize(text))

    return map_spans(df, spans_col, strip)
