"""Tests of the benchmark itself: generator determinism, the correctness
checks (pass on the program's real output, fail on corrupted output) and
the metric names against ``BENCHMARK.json``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402


def _tree_equal(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    same = not (cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files)
    return same and all(_tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generator_same_seed_same_bytes(tmp_path):
    for run in ("a", "b"):
        gen.write_backfill(7, 300, str(tmp_path / run / "backfill"))
        gen.write_stream(7, [40] * 4, str(tmp_path / run / "stream"), 0.25)
    for d in ("backfill", "stream"):
        filecmp.clear_cache()
        assert _tree_equal(str(tmp_path / "a" / d), str(tmp_path / "b" / d)), d
    assert gen.compile_requests(7) == gen.compile_requests(7)
    gen.write_backfill(8, 300, str(tmp_path / "c"))
    assert not filecmp.cmp(
        tmp_path / "a" / "backfill" / "gt_records.parquet", tmp_path / "c" / "gt_records.parquet", shallow=False
    )
    assert gen.compile_requests(7) != gen.compile_requests(8)


def test_generator_knobs(tmp_path):
    info = gen.write_backfill(1, 2000, str(tmp_path / "b"), gen.Fanout(p_zero=0.0, p_tail=0.0, small_max=1))
    assert info["mv_elements"] == info["sink_rows"] == 2000
    gen.write_stream(1, [500] * 4, str(tmp_path / "s"), 0.25, gen.StreamShape(delete_share=0.5, late_share=0.0))
    ev = pq.read_table(tmp_path / "s" / "gt_events.parquet")
    share = pc.mean(pc.equal(ev["op"], "DELETE").cast(pa.int8())).as_py()
    assert 0.4 < share < 0.6
    # no late events: files hold SEQs in order
    seq, files = ev["seq"].to_pylist(), ev["file"].to_pylist()
    assert files == sorted(files) and seq == sorted(seq)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("spark")
    os.environ.update(
        SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp)
    )
    from ksql_streams_from_schema_converter_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def _corrupt(parquet_dir: str, column: str) -> None:
    """Replace ``column`` in the first row of the first data file."""
    path = sorted(p for p in os.listdir(parquet_dir) if p.endswith(".parquet"))[0]
    path = os.path.join(parquet_dir, path)
    t = pq.read_table(path)
    i = t.schema.get_field_index(column)
    col = t.column(i).to_pylist()
    col[0] = "CORRUPT" if isinstance(col[0], str) or col[0] is None else col[0] + col[0].__class__(1)
    pq.write_table(t.set_column(i, t.field(i), pa.array(col, t.field(i).type)), path)


def test_backfill_check(spark, tmp_path):
    from ksql_streams_from_schema_converter_spark import api
    from ksql_streams_from_schema_converter_spark.plans.sink import write_keyed_parquet

    gt = str(tmp_path / "gt")
    gen.write_backfill(3, 400, gt, gen.Fanout(p_zero=0.05, p_tail=0.02, tail_lo=8, tail_hi=12))
    out = str(tmp_path / "sink")
    resp = api.etl_pipeline(gen.backfill_request(), spark.read.parquet(os.path.join(gt, "cdc")))
    write_keyed_parquet(resp.result.sink, out)
    assert check.check_backfill(gt, out) == []
    _corrupt(out, "TITLE_TAG")
    assert check.check_backfill(gt, out)


def test_stream_check(spark, tmp_path):
    from pyspark.sql import functions as F

    from ksql_streams_from_schema_converter_spark.operators.merge import merge_into, read_state
    from ksql_streams_from_schema_converter_spark.plans.pipeline import EtlPipeline, PipelineSpec
    from ksql_streams_from_schema_converter_spark.sources.kafka import KAFKA_WIRE_SCHEMA, parse_blob_cdc

    root = str(tmp_path / "stream")
    names = gen.write_stream(4, [300] * 3, root, 0.25, gen.StreamShape(key_space=200, late_max_events=400))
    pipe = EtlPipeline(PipelineSpec.from_dict(gen.stream_request()))
    state = str(tmp_path / "state")
    for version, name in enumerate(names):  # each file as one micro-batch, in arrival order
        wire = spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(os.path.join(root, "stage", name))
        sink = pipe.apply(wire.select(*parse_blob_cdc(F.col("value")))).sink
        merge_into(sink, state, key="RECID", version=version, order_col="SEQ")
    final = str(tmp_path / "final")
    read_state(spark, state, drop_where=F.col("OP") == "DELETE").write.parquet(final)
    assert check.check_stream(root, final) == []
    _corrupt(final, "SEQ")
    assert check.check_stream(root, final)
    # merging the files as one batch ignoring SEQ order must also be caught
    wrong = str(tmp_path / "wrong")
    wire = spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(os.path.join(root, "stage"))
    sink = pipe.apply(wire.select(*parse_blob_cdc(F.col("value")))).sink
    sink.dropDuplicates(["RECID"]).where(F.col("OP") != "DELETE").write.parquet(wrong)
    assert check.check_stream(root, wrong)


def test_compile_check(spark):
    from ksql_streams_from_schema_converter_spark import api

    xml = spark.createDataFrame([("a", {"X": "1"})], "recid string, xmlrecord map<string,string>")
    blob = spark.createDataFrame([("b", "41")], "recid string, value_hex string")
    for body in gen.compile_requests(5, n_bodies=3, n_fields=30):
        resp = api.etl_pipeline(body, xml if body["procType"] == "XML" else blob)
        fields = [(f.name, f.dataType.simpleString()) for f in resp.result.sink.schema.fields]
        assert check.check_compile(body, fields, resp.stmt_ddl) == [], body["procType"]
        bad_type = [(n, "int" if i == 3 else t) for i, (n, t) in enumerate(fields)]
        assert check.check_compile(body, bad_type, resp.stmt_ddl)
        bad_ddl = re.sub(r'"RECID" VARCHAR2\(4000\)', '"RECID" NUMBER(10)', resp.stmt_ddl)
        assert check.check_compile(body, fields, bad_ddl)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(set(m) == {"name", "why"} and len(m["why"]) <= 200 for m in b["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} and m["bound"] <= 0.25 for m in b["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])


@pytest.mark.parametrize("trace,workload", [(0, "stream_small_batch"), (1, "compile_wide_schema")])
def test_printed_metrics_are_declared(trace, workload):
    """A short real run prints exactly the declared metrics of its mode."""
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = _bench()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
