"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds its inputs from ``--seed``, measures
the named workload for ``--seconds``, checks every output, and prints one
JSON object as the last line of stdout: the end-to-end metrics declared in
``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics (``--trace 1``).
Everything it writes stays under ``.perfbench_work/`` (scratch, removed at
exit) and ``.perfbench_out/`` (the span dump of a traced run).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ksql_streams_from_schema_converter_spark"
LAYER_WORKLOADS = ("backfill_xml_mv", "stream_blob_upsert", "compile_wide_schema")
WORKLOADS = LAYER_WORKLOADS + ("stream_small_batch",)
SETUPS = 5  # set-ups per run; setup_s is their median
TRACE_WINDOW_S = 10  # longest traced window, so a traced run ends well within 180 s
SHORT = {"backfill_xml_mv": "backfill", "stream_blob_upsert": "stream", "stream_small_batch": "stream",
         "compile_wide_schema": "compile"}


def declared() -> tuple[dict, dict]:
    """(end_to_end, per_layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def configure(work: str) -> None:
    """Keep the session and every temp file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def set_up() -> tuple[object, list[float], dict]:
    """``SETUPS`` set-ups, each: import the package, ``get_spark``, run a
    first trivial job. The first counts from process start and launches
    the JVM; the others re-import the package and restart the session in
    that JVM."""
    samples, gets, firsts = [], [], []
    spark, t0 = None, T_START
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
            for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[m]
            t0 = time.perf_counter()
        session = importlib.import_module(f"{PKG}.session")
        importlib.import_module(f"{PKG}.api")
        t1 = time.perf_counter()
        spark = session.get_spark("perfbench")
        t2 = time.perf_counter()
        spark.range(1000).count()
        t3 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        samples.append(t3 - t0)
        gets.append(t2 - t1)
        firsts.append(t3 - t2)
    info = {
        "session.cold_setup_s": samples[0],
        "session.get_spark_s": statistics.median(gets[1:]),
        "session.first_job_s": statistics.median(firsts[1:]),
    }
    return spark, samples, info


def tear_down(spark) -> float:
    """Stop the session and the JVM, wait for it to exit; return the peak
    RSS of the largest child process (the JVM) in MiB."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024


def traced(wl, ctx, workload: str, seconds: int) -> tuple[list, dict]:
    """The named workload untraced and then traced for a window of
    ``seconds`` (at most ``TRACE_WINDOW_S``) each (their difference is
    the tracing overhead; the untraced window has already warmed the JVM
    for the traced one), the other layer workloads traced for half the
    window so that every per-layer metric is measured, and the
    single-thread backfill baseline."""
    from tracing import Tracer

    seconds = min(seconds, TRACE_WINDOW_S)
    base = wl.RUNNERS[workload](ctx, seconds)
    tr = Tracer()
    results, metrics = [base], {}
    layer = wl.LAYER_WORKLOAD[workload]
    for name in [workload] + [w for w in LAYER_WORKLOADS if w != layer]:
        named = name == workload
        with tr.span(f"workload.{name}"):
            res, m = wl.TRACERS[name](ctx, seconds if named else max(2, seconds // 2), tr, warm=not named)
        results.append(res)
        metrics.update(m)
    untraced = base.metrics.get("latency_p50_ms")
    traced_p50 = metrics[f"{SHORT[workload]}.latency_p50_ms"]
    metrics["tracing.overhead_pct"] = (traced_p50 / untraced - 1) * 100 if untraced else 0.0
    with tr.span("baseline.local1"):
        metrics.update(wl.local1_baseline(ctx))
    metrics["tracing.spans"] = len(tr.spans)
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    tr.dump(os.path.join(out, f"spans-{workload}-{ctx.seed}.json"))
    return results, metrics


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        sys.exit(f"{PKG} not found under {ROOT}: run from a checkout of the repository")
    e2e_units, layer_units = declared()

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure(work)
    spark = None
    try:
        spark, setups, session_info = set_up()
        import workloads as wl

        ctx = wl.Ctx(spark, work, args.seed)
        if args.trace:
            results, metrics = traced(wl, ctx, args.workload, args.seconds)
            metrics.update(session_info)
        else:
            results = [wl.RUNNERS[args.workload](ctx, args.seconds)]
            metrics = {"setup_s": statistics.median(setups), **results[0].metrics}
        spark = ctx.spark
    finally:
        rss = tear_down(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics["session.jvm_peak_rss_mb"] = rss
    units = layer_units if args.trace else e2e_units
    for r in results:
        for e in r.errors:
            print(e, file=sys.stderr)
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    if set(metrics) != set(units):
        missing, extra = sorted(set(units) - set(metrics)), sorted(set(metrics) - set(units))
        print(f"metrics differ from BENCHMARK.json: missing {missing}, undeclared {extra}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
