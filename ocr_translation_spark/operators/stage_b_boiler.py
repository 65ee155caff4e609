"""Stage B — boilerplate / markup strip, fully columnar (no Python).

Reference parity: the validation guards at ``src/utils/pdf.js:14-22``
(empty-text rejection) generalized to DOM/boilerplate heuristics:
markup spans (``tag_open``/``tag_close``) and ``boiler`` spans are
dropped, and ``text`` spans are scored by boilerplate-token density
(kin of tag-density / text-to-markup-ratio scoring) and dropped above
``semantics.BOILER_THRESHOLD``.

This stage is pure Catalyst expression work over the span array —
``F.filter`` with a lambda — so it costs zero shuffles and never
crosses the Python boundary. On Spark 4.1 ``filter`` is
CodegenFallback: its lambda is evaluated interpreted, element by
element, inside the compiled stage.
Exactly the semantics of ``semantics.keep_span`` (the golden spec).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .. import semantics as S

_BOILER_TOKENS = list(S.BOILER_TOKEN_SET)
_DROP_KINDS = [S.KIND_BOILER, S.KIND_TAG_OPEN, S.KIND_TAG_CLOSE]

# Python str.strip()/str.split() whitespace parity. F.trim strips ONLY
# ASCII spaces and Java's \\s is the ASCII subset [ \\t\\n\\x0B\\f\\r] - a
# tab-only span would survive the Spark strip while the golden spec
# (semantics.keep_span: text.strip()) drops it, and a leading tab would
# inject an empty first token, diluting the boiler score (2/4 kept vs
# the golden 2/3 dropped). PY_WS_CLASS is a Java-regex class of the
# EXACT enumeration of Python's 29 isspace() code points (asserted in
# tests); splitting on it and dropping empty pieces IS str.split().
# (A translate()-based char remap and a regexp_replace strip were both
# benchmarked for this per-span hot path: the plain class split ties
# the old ASCII trim+\\s+ shape; the others cost 20-100% more.)
PY_WS_CLASS = (
    "[ \\t\\n\\x0b\\f\\r\\x1c-\\x1f\\x85\\xa0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000]"
)


def py_tokens_strict(text: Column) -> Column:
    """Columnar twin of Python ``str.split()``: split on every Python
    whitespace char and drop empty pieces. Blank text yields the EMPTY
    array (unlike a trim+split shape, which yields [""]), so blank-ness
    is ``size == 0`` and the token array answers every downstream
    question - the fused pipeline materializes it once per span."""
    return F.filter(F.split(text, PY_WS_CLASS), lambda t: t != "")


def keep_from_tokens(kind: Column, text: Column, toks: Column) -> Column:
    """``semantics.keep_span`` over a pre-tokenized span. ``toks`` must
    be ``py_tokens_strict(text)``; size 0 == blank. The score division
    is guarded (ANSI: it must not evaluate for empty token lists)."""
    n = F.size(toks)
    hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(_BOILER_TOKENS))
    )
    bad_text = (kind == S.KIND_TEXT) & (
        text.isNull()
        | (n == 0)
        | F.when(n > 0, (hits / n) > F.lit(S.BOILER_THRESHOLD)).otherwise(
            F.lit(False)
        )
    )
    return ~kind.isin(_DROP_KINDS) & ~bad_text


def keep_span_predicate(span: Column) -> Column:
    """Columnar twin of ``semantics.keep_span`` (span = struct column)."""
    kind, text = span["kind"], span["text"]
    return keep_from_tokens(kind, text, py_tokens_strict(span["text"]))


def strip_boilerplate(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Filter each row's span array down to content spans (stage B)."""
    return df.withColumn(
        spans_col, F.filter(F.col(spans_col), keep_span_predicate)
    )
