"""Generic content-hash dedup-before-compute with a persisted cache.

The Spark re-expression of the reference's Redis caching pattern
(``OCRQueue.js:65-90``, ``TranslationQueue.js:53-83``, keys from
``src/utils/hash.js:5-25``), per SURVEY.md section 4.1:

    result(x) = cache[sha256(x)]  if use_cache and hit
                f(x)              otherwise        (computed ONCE per
                                                    distinct hash)
    cache    += computed                           (store ALWAYS —
                                                    OCRQueue.js:85)

Catalyst has no cross-row memoization, so this program shape is the
custom operator: hash -> (optional) cache left-join -> dropDuplicates
on the hash -> compute distinct via a vectorized pandas stage -> join
results back to all rows. At scale the dropDuplicates is a shuffle on
a uniformly distributed content hash (no key skew by construction) and
the join-back is left to AQE, which broadcasts the distinct side at
runtime when it is actually small.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def dedup_compute_with_cache(
    df: DataFrame,
    payload_col: str,
    compute_fn: Callable[[pd.Series], pd.Series],
    result_col: str = "result",
    cache_df: DataFrame | None = None,
    use_cache: bool = True,
    hash_col: str = "h",
) -> tuple[DataFrame, DataFrame]:
    """Attach ``result_col`` = f(payload) to every row, computing f once
    per distinct payload.

    ``compute_fn`` maps a pandas Series of payloads to a Series of
    results (vectorized; runs inside ``mapInPandas``).

    Returns ``(df_with_result, new_cache_entries)``;
    new_cache_entries has columns (hash_col, result_col).
    """
    payload = F.col(payload_col)
    # a NULL payload gets its own sentinel key (not a hex sha, so it
    # can never collide): hashing null as sha2(b"") would conflate it
    # with the EMPTY payload, compute f on only one of the two, and
    # poison the cache with the wrong result for the other
    hashed_payload = F.when(
        payload.isNull(), F.lit("__null__")
    ).otherwise(F.sha2(payload.cast("binary"), 256))
    hashed = df.withColumn(hash_col, hashed_payload)
    distinct = hashed.select(hash_col, payload_col).dropDuplicates([hash_col])

    if use_cache and cache_df is not None:
        cache = cache_df.select(hash_col, F.col(result_col).alias("_cached"))
        with_cache = distinct.join(cache, hash_col, "left")
        hits = with_cache.filter(F.col("_cached").isNotNull()).select(
            hash_col, F.col("_cached").alias(result_col)
        )
        misses = with_cache.filter(F.col("_cached").isNull()).select(
            hash_col, payload_col
        )
    else:
        hits = None
        misses = distinct

    out_schema = f"{hash_col} string, {result_col} string"

    def _compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {hash_col: pdf[hash_col], result_col: compute_fn(pdf[payload_col])}
            )

    computed = misses.mapInPandas(_compute, schema=out_schema)
    per_hash = computed if hits is None else hits.unionByName(computed)
    return hashed.join(per_hash, hash_col, "left"), computed
