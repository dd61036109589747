"""Seeded T24 CDC generator for the benchmark.

Everything here is built with numpy and pyarrow in the calling process;
the Spark session under test never touches generation. The same seed
gives byte-identical files.

Three input families:

- ``write_backfill``: an XML-map CDC table (``recid STRING, xmlrecord
  MAP<STRING,STRING>``) with a wide single-value field set, three VM
  fields and one VS field, plus the unpacked ground truth
  (``gt_records.parquet`` and ``gt_mv.parquet``).
- ``write_stream``: BLOB FEFD CDC events in the Kafka wire schema, split
  into files for an open-loop dropper, plus ``gt_events.parquet``.
- ``compile_requests``: ``POST /api/etl-pipeline`` request bodies over
  the XML, BLOB FEFD and BLOB SPLIT variants.

Run ``python3 perfbench/gen.py drop <staging> <target> <start> <interval>``
to move pre-built files into a watched directory on a fixed schedule
(the open-loop load generator of the stream workload).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FE, FD = "þ", "ý"  # T24 field / value markers as ISO-8859-1 text
_LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
_CCYS = ["VND", "USD", "EUR", "JPY", "GBP", "SGD", "AUD", "CHF"]
_EPOCH = dt.datetime(2000, 1, 1)


@dataclass(frozen=True)
class Fanout:
    """Multivalue element counts: ``p_zero`` of records carry no
    multivalue fields at all, ``p_tail`` carry ``tail_lo..tail_hi``
    elements, the rest ``1..small_max``."""

    p_zero: float = 0.02
    p_tail: float = 0.01
    small_max: int = 4
    tail_lo: int = 40
    tail_hi: int = 60

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        u = rng.random(n)
        k = rng.integers(1, self.small_max + 1, n)
        k = np.where(u < self.p_tail, rng.integers(self.tail_lo, self.tail_hi + 1, n), k)
        return np.where(u > 1.0 - self.p_zero, 0, k)


@dataclass(frozen=True)
class StreamShape:
    """Key skew and event mix of the stream workload."""

    key_space: int = 20_000
    zipf_s: float = 1.1
    delete_share: float = 0.10
    late_share: float = 0.05
    late_max_events: int = 6_000  # how far a late event may slip


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` random upper-case strings of ``lo..hi`` letters."""
    lens = rng.integers(lo, hi + 1, n)
    flat = _LETTERS[rng.integers(0, 26, int(lens.sum()))]
    text = "".join(flat.tolist())
    ends = np.cumsum(lens)
    return [text[e - n_ : e] for e, n_ in zip(ends.tolist(), lens.tolist())]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# backfill: XML-map CDC table
# ---------------------------------------------------------------------------

CDC_FILES = 16
IDENTITY_FIELDS = [
    "SECTOR", "INDUSTRY", "NATIONALITY", "RESIDENCE", "TARGET",
    "CATEGORY", "CURRENCY_MKT", "LANGUAGE", "CO_CODE", "DEPT_CODE",
]


def backfill_request() -> dict:
    """The wide XML request body the backfill replays (one DSL case per
    field, three VM fields and one VS field)."""
    f = _field
    proc = [
        f("RECID", "UCASE($)"),
        f("CUSTOMER_NO"),
        f("VALUE_DATE", "parse_date", "date"),
        f("LAST_UPDATE", "parse_timestamp"),
        f("SHORT_NAME", "substring"),
        f("OPERATOR", "seab_field"),
        f("MNEMONIC", "UCASE($) MNEMONIC_UC"),
        f("ACCOUNT_TITLE", "substring", nested="CONCAT('T-', $) TITLE_TAG"),
        f("BALANCE", "", "decimal(18,2)"),
        f("INTEREST_RATE", "", "decimal(10,4)"),
        f("PRIMARY_ACCT", "[2]"),
        f("POSTING_RESTRICT", "string-join(',')"),
        f("INPUTTER_HIS"),
        f("LOCALREF_BRANCH"),
        *[f(n) for n in IDENTITY_FIELDS],
        f("ACCT_NO", vm=True),
        f("CCY", vm=True),
        f("AMOUNT", "", "decimal(18,2)", vm=True),
        f("RATE", "", "decimal(10,4)", vs=True),
    ]
    return {
        "collectionName": "bench",
        "procName": "BACKFILL",
        "schemaName": "FBNK_ACCOUNT",
        "procType": "XML",
        "procData": proc,
    }


def _field(name, transformation="", cast="string", nested="", vm=False, vs=False) -> dict:
    return {
        "name": name,
        "transformation": transformation,
        "type": ["string", cast],
        "nested": nested,
        "should_parse_sv": not (vm or vs),
        "should_parse_vm": vm,
        "should_parse_vs": vs,
    }


def _decimals(units: np.ndarray, precision: int, scale: int) -> pa.Array:
    """Non-negative integers in units of ``10**-scale`` as a decimal
    array (exact, no float round trip)."""
    buf = np.zeros((len(units), 2), np.int64)
    buf[:, 0] = units
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), len(units), [None, pa.py_buffer(buf)]
    )


def _dec_text(units: np.ndarray, scale: int) -> list[str]:
    q = 10**scale
    return [f"{u // q}.{u % q:0{scale}d}" for u in units.tolist()]


def _mv_texts(counts: np.ndarray, elems: list[str], sub: bool = False) -> list[str]:
    """Per record, ``1:e1#2:e2...`` (``s1:...`` for subvalues) over
    consecutive runs of ``elems`` of the given ``counts``."""
    ends = np.cumsum(counts)
    starts = ends - counts
    pos = (np.arange(len(elems)) - np.repeat(starts, counts) + 1).tolist()
    p = "s" if sub else ""
    items = [f"{p}{i}:{e}" for i, e in zip(pos, elems)]
    return ["#".join(items[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]


def _runs(counts: np.ndarray, elems: list[str]) -> list[list[str]]:
    ends = np.cumsum(counts).tolist()
    return [elems[e - c : e] for e, c in zip(ends, counts.tolist())]


def write_backfill(seed: int, n: int, out_dir: str, fanout: Fanout = Fanout()) -> dict:
    """Write the CDC table as ``CDC_FILES`` files under ``out_dir/cdc``
    plus the unpacked ground truth; return counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    recid = [f"ld{i:08d}" for i in rng.permutation(n).tolist()]
    cust = [str(c) for c in rng.integers(100_000, 999_999, n).tolist()]
    vdate = [_EPOCH.date() + dt.timedelta(days=d) for d in rng.integers(0, 11_000, n).tolist()]
    lupd = [_EPOCH + dt.timedelta(minutes=m) for m in rng.integers(0, 11_000 * 1440, n).tolist()]
    short = _words(rng, n, 20, 60)
    title = _words(rng, n, 20, 60)
    mnem = [w.lower() for w in _words(rng, n, 4, 10)]
    op_user = [f"OP{u}" for u in rng.integers(1, 500, n).tolist()]
    op_br = [f"BR{b:02d}" for b in rng.integers(1, 40, n).tolist()]
    bal = rng.integers(0, 10**9, n)
    irate = rng.integers(1, 2000, n)
    branch = [f"VN00{b:02d}" for b in rng.integers(1, 90, n).tolist()]
    ident = {name: _words(rng, n, 3, 8) for name in IDENTITY_FIELDS}
    n_prim, n_post, n_inp = (rng.integers(1, 4, n) for _ in range(3))
    prim = [f"PA{a:07d}" for a in rng.integers(0, 10**7, int(n_prim.sum())).tolist()]
    post = [f"PR{a}" for a in rng.integers(1, 30, int(n_post.sum())).tolist()]
    inp_ops = [f"OP{u}" for u in rng.integers(1, 500, int(n_inp.sum())).tolist()]
    inp_ids = rng.integers(1000, 9999, len(inp_ops)).tolist()
    k = fanout.draw(rng, n)
    total_k = int(k.sum())
    acct = [f"AC{a:09d}" for a in rng.integers(0, 10**9, total_k).tolist()]
    ccy = [_CCYS[c] for c in rng.integers(0, len(_CCYS), total_k).tolist()]
    amt = rng.integers(0, 10**10, total_k)
    rate = rng.integers(1, 9999, total_k)

    # the INPUTTER history alternates multivalue / subvalue ordinals
    inputter_elems = [f"{i}_{o}_X" for i, o in zip(inp_ids, inp_ops)]
    columns = [
        ("CUSTOMER_NO", cust),
        ("VALUE_DATE", [d.strftime("%Y%m%d") for d in vdate]),
        ("LAST_UPDATE", [t.strftime("%y%m%d%H%M") for t in lupd]),
        ("SHORT_NAME", short),
        ("OPERATOR", [f"{b}_{u}_A" for b, u in zip(op_br, op_user)]),
        ("MNEMONIC", mnem),
        ("ACCOUNT_TITLE", title),
        ("BALANCE", _dec_text(bal, 2)),
        ("INTEREST_RATE", _dec_text(irate, 4)),
        ("PRIMARY_ACCT_multivalue", _mv_texts(n_prim, prim)),
        ("POSTING_RESTRICT_multivalue", _mv_texts(n_post, post)),
        ("INPUTTER_multivalue", [
            t.replace("#2:", "#s2:") for t in _mv_texts(n_inp, inputter_elems)
        ]),
        ("LOCALREF_BRANCH", branch),
        *[(name, ident[name]) for name in IDENTITY_FIELDS],
    ]
    n_sv = len(columns)
    has_mv = k > 0
    mv_columns = [
        ("ACCT_NO_multivalue", _mv_texts(k[has_mv], acct)),
        ("CCY_multivalue", _mv_texts(k[has_mv], ccy)),
        ("AMOUNT_multivalue", _mv_texts(k[has_mv], _dec_text(amt, 2))),
        ("RATE_multivalue", _mv_texts(k[has_mv], _dec_text(rate, 4), sub=True)),
    ]
    width = n_sv + len(mv_columns)
    vals = np.empty((n, width), object)
    for j, (_, col) in enumerate(columns):
        vals[:, j] = col
    for j, (_, col) in enumerate(mv_columns):
        vals[has_mv, n_sv + j] = col
    present = np.ones((n, width), bool)
    present[~has_mv, n_sv:] = False
    key_row = np.array([c[0] for c in columns + mv_columns], object)
    keys = np.broadcast_to(key_row, (n, width))[present]
    offsets = np.concatenate([[0], np.cumsum(present.sum(axis=1))]).astype(np.int32)
    xml = pa.MapArray.from_arrays(
        pa.array(offsets), pa.array(keys.tolist(), pa.string()),
        pa.array(vals[present].tolist(), pa.string()),
    )
    cdc = pa.table({"recid": recid, "xmlrecord": xml})
    # a landed CDC extract is several files, so the scan can run in parallel
    os.makedirs(os.path.join(out_dir, "cdc"))
    step = -(-n // CDC_FILES)
    for j in range(CDC_FILES):
        _write(cdc.slice(j * step, step), os.path.join(out_dir, "cdc", f"part-{j:05d}.parquet"))

    gt = {
        "recid": recid,
        "customer_no": cust,
        "value_date": pa.array(vdate, pa.date32()),
        "last_update": pa.array(lupd, pa.timestamp("us")),
        "short_name": short,
        "op_branch": op_br,
        "op_user": op_user,
        "mnemonic": mnem,
        "account_title": title,
        "balance": _decimals(bal, 18, 2),
        "interest_rate": _decimals(irate, 10, 4),
        "primary_accts": _runs(n_prim, prim),
        "posting_restrict": _runs(n_post, post),
        "inputter_ops": _runs(n_inp, inp_ops),
        "branch": branch,
        **{name.lower(): ident[name] for name in IDENTITY_FIELDS},
    }
    _write(pa.table(gt), os.path.join(out_dir, "gt_records.parquet"))
    mv_recid = np.repeat(np.array(recid, object), k).tolist()
    ends = np.cumsum(k)
    mv = {
        "recid": mv_recid,
        "pos": pa.array(np.arange(total_k) - np.repeat(ends - k, k) + 1, pa.int32()),
        "acct_no": acct,
        "ccy": ccy,
        "amount": _decimals(amt, 18, 2),
        "rate": _decimals(rate, 10, 4),
    }
    _write(pa.table(mv), os.path.join(out_dir, "gt_mv.parquet"))
    return {"records": n, "mv_elements": total_k, "sink_rows": total_k + int((~has_mv).sum())}


# ---------------------------------------------------------------------------
# stream: BLOB FEFD events in the Kafka wire schema
# ---------------------------------------------------------------------------

TOPIC = "FBNK_ACCOUNT_CDC"
PARTITIONS = 4


def stream_request() -> dict:
    """The narrow BLOB FEFD body the stream runs (single values only, so
    each event stays one row keyed by RECID)."""
    f = _field
    return {
        "collectionName": "bench",
        "procName": "STREAM",
        "schemaName": "FBNK_ACCOUNT",
        "procType": "BLOB",
        "blobDelim": "FEFD",
        "procData": [
            f("RECID", "UCASE($)"),
            f("SEQ", "", "bigint"),
            f("OP"),
            f("CUSTOMER_NO"),
            f("BALANCE", "", "decimal(18,2)"),
            f("VALUE_DATE", "parse_date", "date"),
            f("SHORT_NAME", "substring"),
        ],
    }


def wire_schema() -> pa.Schema:
    """``KAFKA_WIRE_SCHEMA`` as written by pyarrow."""
    return pa.schema(
        [
            ("key", pa.binary()),
            ("value", pa.binary()),
            ("topic", pa.string()),
            ("partition", pa.int32()),
            ("offset", pa.int64()),
            ("timestamp", pa.timestamp("us", tz="UTC")),
            ("timestampType", pa.int32()),
        ]
    )


def write_stream(
    seed: int,
    sizes: list[int],
    out_dir: str,
    interval_s: float,
    shape: StreamShape = StreamShape(),
) -> list[str]:
    """Write one wire file per entry of ``sizes`` (events per file, in
    arrival order) to ``out_dir/stage`` and the event log with each
    event's file index to ``out_dir/gt_events.parquet``. Returns the
    staged file names in drop order."""
    rng = np.random.default_rng([seed, 2])
    n = int(sum(sizes))
    stage = os.path.join(out_dir, "stage")
    os.makedirs(stage, exist_ok=True)
    ranks = np.arange(1, shape.key_space + 1, dtype=np.float64)
    p = ranks ** -shape.zipf_s
    key_of_rank = rng.permutation(shape.key_space)
    keys = key_of_rank[rng.choice(shape.key_space, n, p=p / p.sum())]
    recid = [f"K{k:07d}" for k in keys.tolist()]
    seq = np.arange(1, n + 1, dtype=np.int64)
    # arrival order: late events slip behind up to late_max_events later ones
    slip = np.where(
        rng.random(n) < shape.late_share,
        rng.integers(1, shape.late_max_events + 1, n),
        0,
    )
    order = np.argsort(np.arange(n) + slip, kind="stable")
    op = np.where(rng.random(n) < shape.delete_share, "DELETE", "UPSERT")
    cust = rng.integers(100_000, 999_999, n).tolist()
    bal = rng.integers(0, 10**9, n)
    bal_text = _dec_text(bal, 2)
    vdate = [_EPOCH.date() + dt.timedelta(days=d) for d in rng.integers(0, 11_000, n).tolist()]
    short = _words(rng, n, 20, 50)

    hexes = []
    for i in range(n):
        blob = FE.join(
            [
                f"SEQ{FD}{seq[i]}",
                f"OP{FD}{op[i]}",
                f"CUSTOMER_NO{FD}{cust[i]}",
                f"BALANCE{FD}{bal_text[i]}",
                f"VALUE_DATE{FD}{vdate[i].strftime('%Y%m%d')}",
                f"SHORT_NAME{FD}{short[i]}",
            ]
        )
        hexes.append(blob.encode("iso-8859-1").hex().upper())

    file_of = np.empty(n, np.int32)
    names, start = [], 0
    next_offset = [0] * PARTITIONS
    base_us = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    for j, size in enumerate(sizes):
        idx = order[start : start + size]
        start += size
        file_of[idx] = j
        rows = {c: [] for c in wire_schema().names}
        for i in idx.tolist():
            part = int(keys[i]) % PARTITIONS
            rows["key"].append(recid[i].encode())
            rows["value"].append(
                json.dumps({"RECID": recid[i], "XMLRECORD": {"VALUE": hexes[i]}}).encode()
            )
            rows["topic"].append(TOPIC)
            rows["partition"].append(part)
            rows["offset"].append(next_offset[part])
            next_offset[part] += 1
            rows["timestamp"].append(base_us + int(j * interval_s * 1e6))
            rows["timestampType"].append(0)
        name = f"part-{j:05d}.parquet"
        _write(pa.table(rows, schema=wire_schema()), os.path.join(stage, name))
        names.append(name)

    gt = pa.table(
        {
            "recid": recid,
            "seq": seq,
            "op": op.tolist(),
            "customer_no": [str(c) for c in cust],
            "balance": _decimals(bal, 18, 2),
            "value_date": pa.array(vdate, pa.date32()),
            "short_name": short,
            "file": file_of,
        }
    )
    _write(gt, os.path.join(out_dir, "gt_events.parquet"))
    return names


def drop(stage: str, target: str, start: float, interval_s: float) -> dict:
    """Move the staged files into ``target`` one per ``interval_s`` from
    wall-clock ``start``, whatever the reader's progress. Returns how
    late each move ran."""
    lateness = []
    for j, name in enumerate(sorted(os.listdir(stage))):
        due = start + j * interval_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(stage, name), os.path.join(target, name))
        lateness.append(max(0.0, time.time() - due) * 1000.0)
    return {"files": len(lateness), "lateness_ms": lateness}


# ---------------------------------------------------------------------------
# compile: wide request bodies
# ---------------------------------------------------------------------------

_SV_CASES = [
    ("", "string", ""),
    ("parse_date", "date", ""),
    ("parse_timestamp", "string", ""),
    ("substring", "string", ""),
    ("seab_field", "string", ""),
    ("[2]", "string", ""),
    ("string-join(',')", "string", ""),
    ("UCASE($) {name}_UC", "string", ""),
    ("TRIM($) {name}_T", "string", ""),
    ("substring", "string", "CONCAT('X-', $) {name}_N"),
    ("", "decimal(18,2)", ""),
    ("", "bigint", ""),
    ("", "string", "LCASE($) {name}_L"),
]


def compile_requests(seed: int, n_bodies: int = 6, n_fields: int = 100) -> list[dict]:
    """``n_bodies`` request bodies of ``n_fields`` fields each, cycling
    XML, BLOB FEFD and BLOB SPLIT; a tenth of the fields are VM/VS. Every
    body holds the same count of each DSL case (so request cost does not
    depend on the seed); the seed picks their order and which half of
    the VM/VS fields are cast to decimal."""
    rng = np.random.default_rng([seed, 3])
    variants = [("XML", None), ("BLOB", "FEFD"), ("BLOB", "SPLIT")]
    bodies = []
    for b in range(n_bodies):
        proc_type, delim = variants[b % len(variants)]
        fields = [_field("RECID", "UCASE($)"), _field("INPUTTER_HIS")]
        n_mv = max(1, n_fields // 10)
        n_sv = n_fields - len(fields) - n_mv
        cases = [_SV_CASES[i % len(_SV_CASES)] for i in range(n_sv)]
        for i in rng.permutation(n_sv).tolist():
            t, cast, nested = cases[i]
            name = f"F{b}_{len(fields):03d}"
            fields.append(
                _field(name, t.format(name=name), cast, nested.format(name=name))
            )
        casts = rng.permutation((["string", "decimal(18,2)"] * n_mv)[:n_mv]).tolist()
        for i in range(n_mv):
            vs = i < n_mv * 3 // 10
            fields.append(_field(f"M{b}_{i:02d}", "", casts[i], vm=not vs, vs=vs))
        body = {
            "collectionName": "bench",
            "procName": f"P{b}",
            "schemaName": f"FBNK_WIDE_{b}",
            "procType": proc_type,
            "procData": fields,
        }
        if delim:
            body["blobDelim"] = delim
        bodies.append(body)
    return bodies


if __name__ == "__main__":
    if len(sys.argv) == 6 and sys.argv[1] == "drop":
        print(json.dumps(drop(sys.argv[2], sys.argv[3], float(sys.argv[4]), float(sys.argv[5]))))
    else:
        sys.exit("usage: gen.py drop <staging> <target> <start> <interval>")
