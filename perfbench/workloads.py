"""The three workloads. Each ``run_*`` measures one workload for a
window of ``seconds`` and returns a :class:`Result`; each ``trace_*``
runs it with spans and engine counters on and returns the
:class:`Result` and the per-layer metrics.

Import this module only after the session is set up (``run.py``): it
binds the program's modules at import time.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial
from statistics import median

from pyspark.sql import functions as F

import check
import gen
from ksql_streams_from_schema_converter_spark import api
from ksql_streams_from_schema_converter_spark.operators.merge import (
    merge_into,
    read_state,
    resolve_bucket_paths,
)
from ksql_streams_from_schema_converter_spark.plans import pipeline as pipeline_mod
from ksql_streams_from_schema_converter_spark.plans.pipeline import EtlPipeline, PipelineSpec
from ksql_streams_from_schema_converter_spark.plans.sink import write_keyed_parquet
from ksql_streams_from_schema_converter_spark.sources.kafka import (
    KAFKA_WIRE_SCHEMA,
    kafka_wire_file_stream,
    parse_blob_cdc,
)
from ksql_streams_from_schema_converter_spark.streaming.runner import foreach_batch_upsert
from tracing import NULL_TRACER, Py4jCounter, SparkCounters, Tracer, percentile

BACKFILL_RECORDS = 25_000
BACKFILL_WARM_REPS = 2  # untimed reps first: the first one runs on a cold JVM
STREAM_INTERVAL_S = 0.25  # one wire file per interval
STREAM_WARM_S = 4.0  # scheduled but untimed
MERGE_BUCKETS = 16
PREFIX_REPS = 3  # each cumulative prefix is timed as the fastest of this many runs
COMPILE_BODIES = 6
COMPILE_FIELDS = 100
COMPILE_WARM_ROUNDS = 4  # untimed calls per body before the window: the
# JIT keeps speeding requests up for about the first 20-30 calls


@dataclass
class Result:
    metrics: dict[str, float]
    attempted: int
    failed: int = 0
    errors: list[str] = field(default_factory=list)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int = 1) -> float:
    """Fastest of ``reps`` calls of ``fn``, in seconds."""
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def _fail(res: Result, what: str, errors: list[str]) -> None:
    res.failed += 1
    res.errors += [f"{what}: {e}" for e in errors[:3]]


# ---------------------------------------------------------------------------
# backfill_xml_mv
# ---------------------------------------------------------------------------


class Backfill:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.gt = ctx.path("backfill")
        if not os.path.exists(os.path.join(self.gt, "cdc")):
            gen.write_backfill(ctx.seed, BACKFILL_RECORDS, self.gt)
        self.request = gen.backfill_request()
        self.reps = 0

    def rep(self, tr=NULL_TRACER) -> str:
        """Read, compile, bind and write the whole table once; return the
        output directory."""
        spark = self.ctx.spark
        out = self.ctx.path("backfill_out", f"rep-{self.reps}")
        self.reps += 1
        with tr.span("backfill.rep"):
            with tr.span("sources.scan"):
                raw = spark.read.parquet(os.path.join(self.gt, "cdc"))
            with tr.span("api.etl_pipeline"):
                resp = api.etl_pipeline(self.request, raw)
            with tr.span("plans.sink.write_keyed_parquet"):
                write_keyed_parquet(resp.result.sink, out)
        return out

    def warm(self) -> None:
        for _ in range(BACKFILL_WARM_REPS):
            shutil.rmtree(self.rep(), ignore_errors=True)

    def window(self, seconds: float, tr=NULL_TRACER) -> tuple[Result, list[float]]:
        """Timed reps until ``seconds`` have passed (at least three)."""
        res = Result({}, 0)
        times, outs = [], []
        start = time.perf_counter()
        while len(times) < 3 or time.perf_counter() - start < seconds:
            res.attempted += 1
            t = time.perf_counter()
            try:
                outs.append(self.rep(tr))
                times.append(time.perf_counter() - t)
            except Exception:
                _fail(res, "rep raised", [traceback.format_exc(limit=3)])
        for out in outs:
            errors = check.check_backfill(self.gt, out)
            if errors:
                _fail(res, "backfill output", errors)
            shutil.rmtree(out, ignore_errors=True)
        if times:
            p50 = median(times)
            res.metrics = {"throughput_rps": BACKFILL_RECORDS / p50, "latency_p50_ms": p50 * 1e3}
        return res, times


def run_backfill(ctx: Ctx, seconds: float) -> Result:
    bf = Backfill(ctx)
    bf.warm()
    return bf.window(seconds)[0]


def trace_backfill(ctx: Ctx, seconds: float, tr: Tracer, warm: bool = True) -> tuple[Result, dict]:
    spark = ctx.spark
    bf = Backfill(ctx)
    if warm:
        bf.warm()
    counters = SparkCounters(spark)
    counters.start()
    res, _ = bf.window(seconds, tr)
    out = counters.stop("spark.backfill")
    out["backfill.latency_p50_ms"] = res.metrics.get("latency_p50_ms", 0.0)

    # cumulative prefixes to the noop sink; a layer's self time is the
    # difference between two successive prefixes (stage_mapped is the
    # identity for XML, so the first prefix is the scan)
    pipe = EtlPipeline(PipelineSpec.from_dict(bf.request))
    raw = spark.read.parquet(os.path.join(bf.gt, "cdc"))
    mapped = pipe.stage_mapped(raw)
    multi = pipe.stage_multivalue(mapped)
    sink, _ = pipe.stage_sink(multi, exploded=True)
    with tr.span("prefix.scan"):
        t_scan = _timed(lambda: _noop(mapped), PREFIX_REPS)
    with tr.span("prefix.multivalue"):
        t_multi = _timed(lambda: _noop(multi), PREFIX_REPS)
    with tr.span("prefix.sink"):
        t_sink = _timed(lambda: _noop(sink), PREFIX_REPS)
    target = ctx.path("backfill_out", "prefix-write")
    with tr.span("prefix.write"):
        t_write = _timed(lambda: write_keyed_parquet(sink, target))
    nbytes, nfiles = check.dir_bytes_files(target)
    out.update({
        "sources.scan_self_s": t_scan,
        "operators.explode.self_s": t_multi - t_scan,
        "operators.compiler.sink_projection_self_s": t_sink - t_multi,
        "plans.sink.write_self_s": t_write - t_sink,
        "operators.explode.fanout": check.count_rows(target) / BACKFILL_RECORDS,
        "plans.sink.bytes_written": nbytes,
        "plans.sink.files_written": nfiles,
    })
    shutil.rmtree(target, ignore_errors=True)
    return res, out


def local1_baseline(ctx: Ctx) -> dict[str, float]:
    """One backfill rep on a ``local[1]`` session (single-thread
    baseline); restarts the session inside the running JVM."""
    from ksql_streams_from_schema_converter_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    ctx.spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        ctx.spark = get_spark("perfbench-local1")
        bf = Backfill(ctx)
        t = time.perf_counter()
        out = bf.rep()
        rps = BACKFILL_RECORDS / (time.perf_counter() - t)
        shutil.rmtree(out, ignore_errors=True)
        ctx.spark.stop()
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = cpus
    ctx.spark = get_spark("perfbench")
    return {"baseline.local1_backfill_rps": rps}


# ---------------------------------------------------------------------------
# stream_blob_upsert
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class StreamLoad:
    rate: int  # offered records per second
    trigger_s: int  # micro-batch interval


# the same upsert with 3,000-record and 400-record micro-batches: the
# second has a seventh of the per-record work (parse, decode, merge)
# for the same per-batch planning, commit and bucket rewrites
STREAM_LOADS = {
    "stream_blob_upsert": StreamLoad(rate=1_500, trigger_s=2),
    "stream_small_batch": StreamLoad(rate=200, trigger_s=2),
}


class Stream:
    """Open loop: ``load.rate`` records/s arrive as one wire file per
    ``STREAM_INTERVAL_S`` whatever the query's progress, and the query
    runs a micro-batch every ``load.trigger_s``, so every run merges the
    same sequence of batches. File 0 starts the query; it and the first
    ``STREAM_WARM_S`` of the schedule warm the JVM up and are not
    timed."""

    def __init__(self, ctx: Ctx, seconds: float, load: StreamLoad, name: str = "stream"):
        self.ctx = ctx
        self.load = load
        self.root = ctx.path(name)
        self.n_warm = round(STREAM_WARM_S / STREAM_INTERVAL_S)
        self.n_files = max(1, round(seconds / STREAM_INTERVAL_S))
        self.per_file = round(load.rate * STREAM_INTERVAL_S)
        self.names = gen.write_stream(
            ctx.seed, [self.per_file] * (1 + self.n_warm + self.n_files), self.root, STREAM_INTERVAL_S
        )
        self.timed = self.names[1 + self.n_warm:]
        self.request = gen.stream_request()
        self.inbox = os.path.join(self.root, "inbox")
        self.state = os.path.join(self.root, "state")
        self.ckpt = os.path.join(self.root, "ckpt")
        os.makedirs(self.inbox)

    def due(self, name: str) -> float:
        """When the schedule drops file ``name`` (file 1 at ``self.start``)."""
        return self.start + (self.names.index(name) - 1) * STREAM_INTERVAL_S

    def run(self, tr=NULL_TRACER):
        """Start the query on file 0, drop the rest on schedule and wait
        until the last file is merged. Returns (commits, drop log,
        per-call merge stats, engine counters, progress)."""
        spark = self.ctx.spark
        commits: list[tuple[int, float]] = []
        merge_stats: list[dict] = []
        counters = SparkCounters(spark) if tr.enabled else None

        def upsert(batch_df, batch_id):
            jobs0 = counters.job_ids() if counters else None
            with tr.span("operators.merge.merge_into") as sp:
                touched = merge_into(
                    batch_df, self.state, key="RECID", version=batch_id,
                    order_col="SEQ", num_buckets=MERGE_BUCKETS,
                )
            commits.append((batch_id, time.time()))
            if counters:
                merge_stats.append({
                    "batch": batch_id, "touched": len(touched),
                    "ms": (sp["end"] - sp["start"]) * 1e3,
                    "jobs": len(counters.job_ids() - jobs0),
                })

        os.rename(os.path.join(self.root, "stage", self.names[0]), os.path.join(self.inbox, self.names[0]))
        with tr.span("plans.pipeline.bind_stream"):
            src = kafka_wire_file_stream(spark, self.inbox, blob=True)
            sink = EtlPipeline(PipelineSpec.from_dict(self.request)).apply(src).sink
        query = foreach_batch_upsert(sink, upsert, self.ckpt).trigger(
            processingTime=f"{self.load.trigger_s} seconds").start()
        try:
            _wait(lambda: commits, 120, query)
            if counters:
                counters.start()
            self.start = time.time() + STREAM_INTERVAL_S
            dropper = subprocess.Popen(
                [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), "drop",
                 os.path.join(self.root, "stage"), self.inbox, repr(self.start), repr(STREAM_INTERVAL_S)],
                stdout=subprocess.PIPE,
            )
            drop_out, _ = dropper.communicate(timeout=120)
            if dropper.returncode:
                raise RuntimeError(f"dropper exited with {dropper.returncode}")
            drops = json.loads(drop_out)
            _wait(lambda: self._batch_of_file().get(self.names[-1]) in dict(commits), 120, query)
            engine = counters.stop("spark.stream") if counters else {}
        finally:
            query.stop()
        return commits, drops, merge_stats, engine, query.recentProgress

    def _batch_of_file(self) -> dict[str, int]:
        """File name -> micro-batch id, from the file source's log in the
        checkpoint (plain and compacted entries)."""
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def measure(self, tr=NULL_TRACER):
        """Run, then derive each timed event's latency (due -> commit of
        its batch) and check the final merge state."""
        res = Result({}, self.n_files * self.per_file)
        commits, drops, merge_stats, engine, progress = self.run(tr)
        batch_of, commit_at = self._batch_of_file(), dict(commits)
        lat, timed_rows = [], {}
        for name in self.timed:
            b = batch_of.get(name)
            if b in commit_at:
                lat += [(commit_at[b] - self.due(name)) * 1e3] * self.per_file
                timed_rows[b] = timed_rows.get(b, 0) + self.per_file
        res.failed = res.attempted - len(lat)
        if res.failed:
            res.errors.append(f"{res.failed} records never committed")
        timed_progress = [p for p in progress if p.batchId in timed_rows]
        if lat:
            # records merged over the window: first timed file due ->
            # commit of the batch holding the last one
            span = max(commit_at[b] for b in timed_rows) - self.due(self.timed[0])
            res.metrics = {
                "throughput_rps": len(lat) / span,
                "latency_p50_ms": percentile(lat, 50),
            }
        final = self.ctx.path("stream_final_state")
        try:
            read_state(self.ctx.spark, self.state, drop_where=F.col("OP") == "DELETE").write.mode(
                "overwrite").parquet(final)
            errors = check.check_stream(self.root, final)
        except Exception:
            errors = [traceback.format_exc(limit=3)]
        if errors:
            # a wrong final state taints every record merged into it
            _fail(res, "merge state", errors)
            res.failed = res.attempted
        return res, lat, timed_progress, drops, merge_stats, engine, commits


def _wait(cond, timeout: float, query) -> None:
    end = time.time() + timeout
    while not cond():
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        if time.time() > end:
            raise TimeoutError("stream did not commit in time")
        time.sleep(0.05)


def run_stream(ctx: Ctx, seconds: float, load: StreamLoad) -> Result:
    return Stream(ctx, seconds, load).measure()[0]


def trace_stream(ctx: Ctx, seconds: float, tr: Tracer, warm: bool = True,
                 load: StreamLoad = STREAM_LOADS["stream_blob_upsert"]) -> tuple[Result, dict]:
    """``warm`` is unused: the stream's warm-up is part of its schedule."""
    spark = ctx.spark
    st = Stream(ctx, seconds, load, name="stream_traced")
    res, lat, timed, drops, merge_stats, engine, commits = st.measure(tr)
    out = dict(engine)
    dur = lambda key: [p.durationMs.get(key, 0) for p in timed]  # noqa: E731
    rows = [p.numInputRows for p in timed]
    # backlog: records dropped but not yet merged, seen at each commit
    # after the schedule started
    files_in = {}
    for b in st._batch_of_file().values():
        files_in[b] = files_in.get(b, 0) + 1
    committed, backlog = 0, 0
    for b, t in commits[1:]:
        committed += st.per_file * files_in.get(b, 0)
        dropped = min(len(st.names) - 1, int((t - st.start) / STREAM_INTERVAL_S) + 1) * st.per_file
        backlog = max(backlog, dropped - committed)
    timed_batches = {p.batchId for p in timed}
    calls = [m for m in merge_stats if m["batch"] in timed_batches]
    rewritten = bytes_rewritten = 0
    for m in calls:
        vdir = os.path.join(st.state, f"v-{m['batch']}")
        rewritten += check.count_rows(os.path.join(vdir, "*"))
        bytes_rewritten += check.dir_bytes_files(vdir)[0]
    live = resolve_bucket_paths(st.state)
    out.update({
        "streaming.batches": len(timed),
        "streaming.batch_records_p50": median(rows) if rows else 0,
        "streaming.trigger_p50_ms": median(dur("triggerExecution")),
        "streaming.trigger_p99_ms": percentile(dur("triggerExecution"), 99),
        "streaming.add_batch_p50_ms": median(dur("addBatch")),
        "streaming.query_planning_p50_ms": median(dur("queryPlanning")),
        "streaming.wal_commit_p50_ms": median(dur("walCommit")),
        "streaming.latest_offset_p50_ms": median(dur("latestOffset")),
        "streaming.backlog_max_records": backlog,
        "operators.merge.call_p50_ms": median([m["ms"] for m in calls]),
        "operators.merge.call_p99_ms": percentile([m["ms"] for m in calls], 99),
        "operators.merge.spark_jobs_per_call": sum(m["jobs"] for m in calls) / len(calls),
        "operators.merge.buckets_touched_mean": sum(m["touched"] for m in calls) / len(calls),
        "operators.merge.bytes_rewritten": bytes_rewritten,
        "operators.merge.rewrite_amplification": rewritten / max(1, sum(rows)),
        "operators.merge.state_rows_end": read_state(spark, st.state).count(),
        "operators.merge.state_bytes_end": sum(check.dir_bytes_files(p)[0] for p in live.values()),
        "stream.latency_p50_ms": res.metrics.get("latency_p50_ms", 0.0),
        "stream.latency_p99_ms": percentile(lat, 99) if lat else 0.0,
        "generator.lateness_p99_ms": percentile(drops["lateness_ms"], 99),
        "generator.records": len(st.names) * st.per_file,
    })

    # cumulative prefixes over a static read of the same wire files
    wire = spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(st.inbox)
    parsed = wire.select(*parse_blob_cdc(F.col("value")))
    mapped = EtlPipeline(PipelineSpec.from_dict(st.request)).stage_mapped(parsed)
    _noop(mapped)  # warm
    with tr.span("prefix.wire_scan"):
        t_scan = _timed(lambda: _noop(wire), PREFIX_REPS)
    with tr.span("prefix.kafka_parse"):
        t_parse = _timed(lambda: _noop(parsed), PREFIX_REPS)
    with tr.span("prefix.blob_decode"):
        t_decode = _timed(lambda: _noop(mapped), PREFIX_REPS)
    out["sources.kafka.parse_self_s"] = t_parse - t_scan
    out["functions.t24.blob_decode_self_s"] = t_decode - t_parse
    return res, out


# ---------------------------------------------------------------------------
# compile_wide_schema
# ---------------------------------------------------------------------------


class Compile:
    """Closed loop, one client: sequential ``api.etl_pipeline`` calls over
    a rotation of request bodies, each bound to a small static source."""

    def __init__(self, ctx: Ctx):
        spark = ctx.spark
        self.bodies = gen.compile_requests(ctx.seed, COMPILE_BODIES, COMPILE_FIELDS)
        xml = spark.createDataFrame(
            [("ld1", {"F0_000": "1"})], "recid string, xmlrecord map<string,string>"
        )
        blob = spark.createDataFrame([("b1", "41")], "recid string, value_hex string")
        self.sources = [xml if b["procType"] == "XML" else blob for b in self.bodies]
        self.i = 0

    def warm(self) -> None:
        for _ in range(COMPILE_WARM_ROUNDS * len(self.bodies)):
            self.request()

    def request(self, tr=NULL_TRACER):
        body, src = self.bodies[self.i % len(self.bodies)], self.sources[self.i % len(self.bodies)]
        self.i += 1
        t = time.perf_counter()
        with tr.span("compile.request"):
            resp = api.etl_pipeline(body, src)
            schema = resp.result.sink.schema
            ddl = resp.stmt_ddl
        dt = time.perf_counter() - t
        fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        return dt, check.check_compile(body, fields, ddl)

    def window(self, seconds: float, tr=NULL_TRACER) -> tuple[Result, list[float]]:
        res, lat = Result({}, 0), []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            res.attempted += 1
            try:
                dt, errors = self.request(tr)
            except Exception:
                dt, errors = None, [traceback.format_exc(limit=3)]
            if errors:
                _fail(res, f"request {self.i - 1}", errors)
            else:
                lat.append(dt)
        if lat:
            res.metrics = {"throughput_rps": len(lat) / sum(lat), "latency_p50_ms": median(lat) * 1e3}
        return res, lat


def run_compile(ctx: Ctx, seconds: float) -> Result:
    c = Compile(ctx)
    c.warm()
    return c.window(seconds)[0]


@contextmanager
def layer_spans(tr: Tracer):
    """Wrap the pipeline's layer entry points (as bound in
    ``plans.pipeline``) in spans for the duration of the block."""
    targets = [
        (PipelineSpec, "from_dict", "plans.pipeline.spec_from_dict", True),
        (EtlPipeline, "apply", "plans.pipeline.apply", False),
        (EtlPipeline, "stage_mapped", "plans.pipeline.stage_mapped", False),
        (EtlPipeline, "stage_multivalue", "plans.pipeline.stage_multivalue", False),
        (EtlPipeline, "stage_sink", "plans.pipeline.stage_sink", False),
        (pipeline_mod, "explode_multivalue", "operators.explode.explode_multivalue", False),
        (pipeline_mod, "compile_projection", "operators.compiler.compile_projection", False),
        (pipeline_mod, "generate_oracle_ddl", "plans.ddl.generate_oracle_ddl", False),
    ]
    saved = []
    for owner, attr, name, is_classmethod in targets:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if is_classmethod else orig

        def wrapped(*a, __fn=fn, __name=name, **kw):
            with tr.span(__name):
                return __fn(*a, **kw)

        saved.append((owner, attr, orig))
        setattr(owner, attr, classmethod(wrapped) if is_classmethod else wrapped)
    try:
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


def trace_compile(ctx: Ctx, seconds: float, tr: Tracer, warm: bool = True) -> tuple[Result, dict]:
    spark = ctx.spark
    c = Compile(ctx)
    if warm:
        c.warm()
    counters = SparkCounters(spark)
    counters.start()
    py4j = Py4jCounter(spark)
    n0 = len(tr.spans)
    try:
        with layer_spans(tr):
            res, lat = c.window(seconds, tr)
    finally:
        py4j.close()
    engine = counters.stop("spark.compile")
    spans = tr.spans[n0:]
    requests = [s for s in spans if s["name"] == "compile.request"]

    def per_request(name: str, self_time: bool = False) -> float:
        """Median over requests of the summed ``name`` spans inside each."""
        vals = []
        for r in requests:
            inside = [s for s in spans if s["name"] == name and r["start"] <= s["start"] and s["end"] <= r["end"]]
            if inside:
                vals.append(sum(tr.self_time(s) if self_time else s["end"] - s["start"] for s in inside))
        return median(vals) * 1e3 if vals else 0.0

    return res, {
        "spark.compile.jobs": engine["spark.compile.jobs"],
        "compile.latency_p50_ms": res.metrics.get("latency_p50_ms", 0.0),
        "compile.latency_p90_ms": percentile(lat, 90) * 1e3 if lat else 0.0,
        "plans.pipeline.spec_from_dict_ms": per_request("plans.pipeline.spec_from_dict"),
        "operators.explode.build_ms": per_request("operators.explode.explode_multivalue"),
        "operators.compiler.compile_projection_ms": per_request("operators.compiler.compile_projection"),
        "plans.pipeline.stage_sink_build_ms": per_request("plans.pipeline.stage_sink"),
        "plans.pipeline.analyze_ms": per_request("plans.pipeline.apply", self_time=True),
        "plans.ddl.generate_ms": per_request("plans.ddl.generate_oracle_ddl"),
        "py4j.calls_per_request": py4j.calls / max(1, res.attempted),
    }


RUNNERS = {
    "backfill_xml_mv": run_backfill,
    **{name: partial(run_stream, load=load) for name, load in STREAM_LOADS.items()},
    "compile_wide_schema": run_compile,
}
TRACERS = {
    "backfill_xml_mv": trace_backfill,
    **{name: partial(trace_stream, load=load) for name, load in STREAM_LOADS.items()},
    "compile_wide_schema": trace_compile,
}
# the layer workload each workload's traced run stands for: the
# per-layer stream metrics come from whichever stream load is run
LAYER_WORKLOAD = {name: name for name in RUNNERS} | {name: "stream_blob_upsert" for name in STREAM_LOADS}
