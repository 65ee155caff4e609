"""Span arrays as flat Arrow columns.

A batch's ``array<struct<kind,text,media_ref,offset>>`` column is
handled as one flat struct array of all its spans plus the row index
of each span (``flat_spans``); ``regroup`` turns the spans that are
left back into one list per row. Stage B, stage C and
``pipeline.extract`` run their ``pyarrow.compute`` kernels in between.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame


def flat_spans(spans: pa.ListArray) -> tuple[pa.StructArray, np.ndarray]:
    """Every span of ``spans`` in row order, and the row of each. NULL
    span elements are dropped (the golden spec cannot read them)."""
    flat = spans.flatten()
    valid = flat.is_valid()
    return flat.filter(valid), pc.list_parent_indices(spans).filter(valid).to_numpy()


def regroup(values: pa.Array, row: np.ndarray, null_rows: pa.Array) -> pa.ListArray:
    """One list per entry of ``null_rows``: the ``values`` whose ``row``
    (ascending) is that entry's index; rows flagged in ``null_rows`` are
    NULL."""
    offsets = np.zeros(len(null_rows) + 1, np.int32)
    np.cumsum(np.bincount(row, minlength=len(null_rows)), out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values, mask=null_rows)


def map_spans(
    df: DataFrame,
    spans_col: str,
    fn: Callable[[pa.StructArray], tuple[pa.StructArray, np.ndarray]],
) -> DataFrame:
    """``df`` with ``spans_col`` rewritten batch by batch in one
    ``mapInArrow``: ``fn(flat)`` returns the new flat spans and a mask
    of the ones to keep. Other columns pass through unchanged."""

    def run(batches):
        for batch in batches:
            i = batch.schema.get_field_index(spans_col)
            spans = batch.column(i)
            flat, row = flat_spans(spans)
            flat, keep = fn(flat)
            out = regroup(flat.filter(pa.array(keep)), row[keep], spans.is_null())
            yield batch.set_column(i, spans_col, out)

    return df.mapInArrow(run, df.schema)
