"""Plan-shape regression gates for the two headline queries that had
none (VERDICT r5 ask #5): extract_flagship and minhash_near_dup.

Constant-factor wins rot silently — an accidental extra
``repartition`` or a new Python crossing changes no result, only the
plan — so these tests pin the physical shape the optimization rounds
measured:

* extract_flagship shape — exactly ONE ``Exchange hashpartitioning``
  (the explicit salted queue-hop repartition; derive + stage B/C stay
  one fused expression chain in a single projection) and ZERO
  Python-evaluation nodes (media=None: stage A never runs; B+C are
  Catalyst higher-order functions, which Spark 4.1 evaluates
  interpreted as CodegenFallback).
* minhash_near_dup — the banded candidate path's RUNTIME stage count:
  distinct ShuffleQueryStage ids after execution (textual Exchange
  counts overcount badly here because the persisted shingle+signature
  subtree re-prints under every InMemoryRelation reference —
  tools/plan_stats.py convention).

* extract with media and a ``Catalog``-loaded OCR cache — stage A is
  one path: one ``MapInPandas``, the media table and the cache each
  scanned once, the media payloads never broadcast, no full-outer
  join, the offset sort (``array_sort``, a CodegenFallback) evaluated
  once, and a join/exchange budget below the forked branch it
  replaced.

A companion test proves the exchange gate genuinely fires on an
injected extra ``repartition``.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ocr_translation_spark.derive import derive_span_documents
from ocr_translation_spark.pipeline import extract
from ocr_translation_spark.sources.catalog import Catalog
from tests.conftest import load_fixture

_PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
)

_WORDS = ("alpha", "beta", "gamma", "dup", "scan", "join", "delta")


def _flat_docs(spark, n=120):
    """(doc_id, text): every group of 3 consecutive docs shares one
    12-word text (planted duplicates, so the near-dup path is
    non-degenerate)."""
    words = F.array(*[F.lit(w) for w in _WORDS])
    g = F.col("id") - F.col("id") % 3
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(11)),
                lambda i: F.element_at(
                    words,
                    ((g * 7 + i * 3) % len(_WORDS)).cast("int") + 1,
                ),
            ),
        ).alias("text"),
    )


def _flagship(spark):
    span_docs = derive_span_documents(_flat_docs(spark))
    return extract(spark, span_docs, media=None).result


def test_flagship_single_exchange_no_python(spark):
    df = _flagship(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert not any(m in plan for m in _PY_NODES), plan


def test_flagship_extra_repartition_detected(spark):
    # sanity: the gate genuinely fires on an injected repartition
    df = _flagship(spark).repartition(4, "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan


def _final_plan(df) -> str:
    """The executed plan after AQE's last re-plan (AQE prints the
    initial plan below it; that part is dropped)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _ancestors(plan: str, needle: str) -> list[list[str]]:
    """For each plan line containing ``needle``: its ancestor nodes."""
    out, stack = [], []
    for line in plan.splitlines():
        body = line.lstrip(" :|+-")
        depth = len(line) - len(body)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if needle in body:
            out.append([text for _, text in stack])
        stack.append((depth, body))
    return out


_MEDIA_SCAN = "ReadSchema: struct<media_ref:string,media_bytes:binary>"
_CACHE_SCAN = "ReadSchema: struct<h:string,ocr_text:string>"
_JOINS = re.compile(
    r"\b(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"
    r"|BroadcastNestedLoopJoin|CartesianProduct)\b"
)


def test_extract_media_with_cache_one_ocr_path(spark, fixture_dir, tmp_path):
    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    computed = extract(spark, docs, media).new_ocr_cache
    cat = Catalog(spark, str(tmp_path))
    # two batches: load_cache resolves them through its existing-wins
    # window, and the cache hits only part of the payloads
    cat.merge_cache(computed.limit(40), "ocr_cache", "h")
    cat.merge_cache(computed.limit(80), "ocr_cache", "h")
    cache = cat.load_cache("ocr_cache", "h")
    plan = _final_plan(extract(spark, docs, media, ocr_cache=cache).result)

    assert plan.count("MapInPandas") == 1, plan
    media_scans = _ancestors(plan, _MEDIA_SCAN)
    assert len(media_scans) == 1, plan
    # the payloads are never a broadcast build side: the first exchange
    # above the media scan is a shuffle (the OCR side's small result may
    # still be broadcast further up)
    first_exchange = next(a for a in reversed(media_scans[0]) if "Exchange" in a)
    assert first_exchange.startswith("Exchange hashpartitioning"), plan
    assert len(_ancestors(plan, _CACHE_SCAN)) == 1, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert "FullOuter" not in plan, plan
    # the main path sorts spans once; the OCR side takes its refs from
    # the unsorted input (it sorted under each of its two document
    # scans too, three sorts in all)
    assert plan.count("array_sort(") == 1, plan
    # the forked branch this replaced planned 9 joins and 13 hash
    # exchanges (ReusedExchange included) for this call on this fixture
    assert len(_JOINS.findall(plan)) <= 4, plan
    assert plan.count("Exchange hashpartitioning") <= 7, plan


@pytest.fixture(scope="module")
def _minhash_executed(spark):
    from ocr_translation_spark.functions.dedup import (
        minhash_near_dup_pairs,
    )

    df = minhash_near_dup_pairs(_flat_docs(spark))
    df.collect()  # finalize the AQE plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_runtime_stage_budget(_minhash_executed):
    shuffles = len(
        set(re.findall(r"ShuffleQueryStage (\d+)", _minhash_executed))
    )
    # the r6-measured runtime shape: banded-candidate generation +
    # verify joins over the persisted signature subtree. An extra
    # repartition or a lost exchange-reuse raises this.
    assert 1 <= shuffles <= 12, _minhash_executed


def test_minhash_no_python_no_cartesian(_minhash_executed):
    assert not any(m in _minhash_executed for m in _PY_NODES)
    assert "CartesianProduct" not in _minhash_executed
    assert "BroadcastNestedLoop" not in _minhash_executed
