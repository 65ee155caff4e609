"""Explicit repartitioning + salted-key skew mitigation.

Reference parity: the BullMQ queue hop is the reference's shuffle
boundary (``controllers/pdf.js:36-40`` -> ``OCRQueue.js:40-47``); its
work-stealing worker pools are what kept per-worker load even. In Spark
the equivalent levers are an explicit hash repartition on the document
key plus, where one key's payload is far heavier than the median
(media-heavy docs: 50-200 media spans vs 0-5, FIXTURES.md), a salt
component so a hot key's rows spread over several partitions.

Where salting matters at 100 TB (and where it doesn't):

* Pre-explode, one doc = one row, so a hash repartition on ``doc_id``
  is already row-uniform — but NOT byte-uniform when span arrays are
  skewed. A salt cannot fix that: one row cannot be split, so on
  one-row-per-key input the salt only acts as a second hash of the key
  and moves whole rows around. It does not even-out byte weight (on
  the benchmark's ``media_dense`` seed 1, 300 docs over 8 partitions,
  max/mean media weight per partition was 1.47 with the salt and 1.26
  with the same ``xxhash64(doc_id)`` repartition without it).
* Post-explode span streams keyed by ``doc_id`` are row-skewed; the
  same salt applies (grouping back per-doc happens only in the final
  collect, where groups are doc-sized and bounded).
* The OCR compute input is deduped to distinct content hashes
  (stage_a), which is the strongest skew mitigation of all: per-task
  cost is uniform in distinct payloads, not in document fan-in.
  A hot media_ref referenced by millions of docs costs ONE OCR.
* AQE skew-join splitting (enabled in session.py) covers residual
  join-side skew at runtime.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

_LOG = logging.getLogger("ocr_translation_spark.partitioning")


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    key_col: str = "doc_id",
    weight_col: str | None = None,
    salt_buckets: int = 8,
    salt_cols: list[str] | None = None,
    single_row_keys: bool = False,
) -> DataFrame:
    """Hash-repartition on ``key_col`` with a weight-scaled salt.

    Rows whose ``weight_col`` is large get a salt drawn from up to
    ``salt_buckets`` values (proportional to log2(weight)), so a heavy
    key no longer maps to a single partition. Light rows keep salt 0,
    preserving plain hash partitioning for the common case.

    The salt must be DETERMINISTIC per row: an order-dependent salt
    (monotonically_increasing_id) re-places rows when a partial stage
    retry re-executes a map task that now sees rows in a different
    order — lost/duplicated rows, the SPARK-23207 class of bug. It is
    derived by hashing (key, weight) plus ``salt_cols``:

    * one-row-per-key inputs (the pipeline's per-doc entry hop) need no
      more — every key already has its own placement, and hashing the
      full row would price the whole span array into the shuffle key;
    * multi-row hot keys (post-explode span streams) should pass cheap
      discriminator columns (e.g. the span offset) as ``salt_cols`` so
      the hot key's rows actually spread; same-key rows identical in
      (weight, salt_cols) co-locate, which is deterministic and safe.
    """
    key_hash = F.xxhash64(F.col(key_col))
    if weight_col is None:
        return df.repartition(num_partitions, key_hash)
    if salt_buckets > 1 and not salt_cols and not single_row_keys:
        # the salt is constant per (key, weight): a MULTI-row hot key
        # whose rows share the weight all land on one partition — zero
        # spreading. Callers with one-row-per-key inputs (the
        # pipeline's entry hop) declare it via ``single_row_keys=True``;
        # anyone else omitting salt_cols is losing skew mitigation
        # silently, and this warning is how they find out.
        _LOG.warning(
            "salted_repartition(key=%s, weight=%s, salt_buckets=%d) "
            "without salt_cols: the salt is constant per (key, weight) "
            "— multi-row hot keys will NOT spread; pass cheap "
            "discriminator columns via salt_cols (or declare "
            "single_row_keys=True if %s is one-row-per-key)",
            key_col, weight_col, salt_buckets, key_col,
        )
    # buckets available to this row: 1 (light) .. salt_buckets (heavy)
    buckets = F.least(
        F.lit(salt_buckets),
        F.greatest(F.lit(1), F.ceil(F.log2(F.col(weight_col) + F.lit(1)))),
    )
    salt_inputs = [F.col(key_col), F.col(weight_col)] + [
        F.col(c) for c in (salt_cols or [])
    ]
    salt = F.pmod(F.xxhash64(*salt_inputs), buckets)
    return df.repartition(num_partitions, key_hash, salt)


def media_weight(spans_col: str = "spans") -> F.Column:
    """Per-doc media span count — the salt weight for media-heavy skew."""
    return F.size(
        F.filter(F.col(spans_col), lambda s: s["kind"] == F.lit("media"))
    )
