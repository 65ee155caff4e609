"""Extraction-engine benchmark.

    python3 perfbench/run.py --workload text_dense --seed 1 --seconds 20 --trace 0

One driver process runs a session at ``local[nproc]`` and drives a
closed loop of passes through the package's public API for about
``--seconds`` seconds (each pass starts when the previous one ends).
Every invocation:

1. records a host calibration (engine-free CPU probe on nproc processes
   and /proc/loadavg) before and after;
2. generates the workload's input from ``--seed`` (outside every timing);
3. sets up: session start, opening the input and the discarded warm-up
   passes (``setup_s``);
4. runs the timed passes;
5. checks the output of one pass against ``semantics.extract_doc``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs half the
window untraced and half traced (their ratio is the tracing overhead),
then times each layer's public call (``layers.py``) and prints the
per-layer metrics; the spans go to ``.perfbench_run/trace-*.json``.
The last stdout line is the JSON result. Run from the repository root;
everything is written under ``.perfbench_run/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEMORY = "3g"  # the package default (48g) does not fit a 15 GB host


def _configure_env() -> None:
    """Keep Spark's scratch space and the Python workers' imports inside
    the checkout; must run before the JVM starts."""
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit runs first: no /tmp perf files
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # mapInPandas workers import ocr_translation_spark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _session_conf() -> dict:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",  # \r bars would corrupt stdout
        "spark.local.dir": os.path.join(RUN_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(RUN_DIR, 'tmp')} "
            f"-Dderby.system.home={os.path.join(RUN_DIR, 'derby')}"
        ),
    }


def _timed_passes(wl, tracer, seconds: float) -> tuple[list[float], list[float]]:
    """Closed loop: run passes until the next one would end past
    ``seconds`` (always at least one)."""
    pass_s, resume_s = [], []
    start = time.perf_counter()
    while True:
        tracer.pass_id = len(pass_s)
        with tracer.span("bench.pass"):
            r = wl.run_pass(tracer)
        tracer.pass_id = None
        pass_s.append(r.pass_s)
        resume_s.append(r.resume_s)
        if time.perf_counter() - start + statistics.median(pass_s) > seconds:
            return pass_s, resume_s


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ocr_translation_spark", "__init__.py")):
        print(f"no ocr_translation_spark package under {ROOT}", file=sys.stderr)
        return 2
    _configure_env()

    import host
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    procs = host.nproc()
    calib_before = host.calibrate(procs)
    tracer = Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload]()

    with tracer.span("datagen.generate"):
        inp = wl.generate(args.seed, os.path.join(RUN_DIR, "data", args.workload), procs)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "shape": inp.shape,
                      "gen_s": inp.gen_s}), flush=True)

    from ocr_translation_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(
            "perfbench", master=f"local[{procs}]", shuffle_partitions=2 * procs,
            extra_conf=_session_conf(),
        )
    session_s = time.perf_counter() - t0
    try:
        work_dir = os.path.join(RUN_DIR, "work", args.workload)
        shutil.rmtree(work_dir, ignore_errors=True)
        os.makedirs(work_dir)
        wl.open(spark, inp, work_dir)
        t_cold = time.perf_counter()
        wl.cold_pass()
        setup_s = time.perf_counter() - t0
        cold_s = time.perf_counter() - t_cold

        if args.trace:
            plain_s, _ = _timed_passes(wl, Tracer(enabled=False), args.seconds / 2)
            pass_s, resume_s = _timed_passes(wl, tracer, args.seconds / 2)
        else:
            pass_s, resume_s = _timed_passes(wl, Tracer(enabled=False), args.seconds)
        jvm = spark.sparkContext._gateway.proc.pid
        peak_mb = host.peak_rss_mb(host.process_tree(jvm))
        t_check = time.perf_counter()
        check = wl.check()
        check_s = time.perf_counter() - t_check
        if args.trace:
            import layers

            layer_m = layers.sweep(wl, tracer)
    finally:
        host.stop_spark(spark)
    calib_after = host.calibrate(procs)
    host.stop_resource_tracker()

    n_docs = len(inp.doc_ids)
    docs_per_s = n_docs / statistics.median(pass_s)
    print(json.dumps({"calibration": {"before": calib_before, "after": calib_after}}))
    print(json.dumps({
        "passes": len(pass_s), "pass_s": pass_s, "resume_s": resume_s,
        "setup_s": setup_s, "session_s": session_s, "cold_s": cold_s,
        "check_s": check_s, "problems": check.problems,
    }))
    summary = {
        "setup_s": _metric(setup_s, "s"),
        "docs_per_s": _metric(docs_per_s, "docs/s"),
        "resume_s": _metric(statistics.median(resume_s), "s"),
        "peak_rss_mb": _metric(peak_mb, "MB"),
        "span_mismatch_ratio": _metric(check.failed / check.attempted, "ratio"),
    }
    print("summary " + " ".join(
        f"{k}={v['value']:.6g}{v['unit']}" for k, v in summary.items()
    ))
    if args.trace:
        plain = n_docs / statistics.median(plain_s)
        layer_m.update(layers.self_time_metrics(tracer))
        layer_m["session.start_s"] = (session_s, "s")
        layer_m["datagen.gen_s"] = (inp.gen_s, "s")
        layer_m["trace.docs_per_s"] = (docs_per_s, "docs/s")
        layer_m["trace.untraced_docs_per_s"] = (plain, "docs/s")
        layer_m["trace.traced_over_untraced"] = (docs_per_s / plain, "ratio")
        layer_m["host.probe_before_s"] = (calib_before["probe_s_median"], "s")
        layer_m["host.probe_after_s"] = (calib_after["probe_s_median"], "s")
        layer_m["host.load1_before"] = (calib_before["loadavg"][0], "load")
        layer_m["host.load1_after"] = (calib_after["loadavg"][0], "load")
        metrics = {k: _metric(v, u) for k, (v, u) in sorted(layer_m.items())}
        tracer.write(os.path.join(RUN_DIR, f"trace-{args.workload}-s{args.seed}.json"))
    else:
        metrics = {k: v for k, v in summary.items() if k != "span_mismatch_ratio"}
    correct = check.failed == 0 and not check.problems
    print(json.dumps({"correct": correct, "attempted": check.attempted,
                      "failed": check.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
