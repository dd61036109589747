"""Correctness checks that do not use the program.

Expected outputs are derived from the generator's unpacked ground truth
with DuckDB (data workloads) or from the request body alone (compile
workload), following the field DSL's documented semantics. Each check
returns a list of mismatch descriptions; empty means correct.
"""

from __future__ import annotations

import os
import re

import duckdb

from gen import IDENTITY_FIELDS

_IDENT = ", ".join(f"r.{n.lower()} AS {n}" for n in IDENTITY_FIELDS)

BACKFILL_EXPECTED = f"""
SELECT upper(r.recid) AS RECID, r.customer_no AS CUSTOMER_NO,
       r.value_date AS VALUE_DATE, r.last_update AS LAST_UPDATE,
       substr(r.short_name, 1, 35) AS SHORT_NAME, r.op_user AS OPERATOR,
       upper(r.mnemonic) AS MNEMONIC_UC,
       'T-' || substr(r.account_title, 1, 35) AS TITLE_TAG,
       r.balance AS BALANCE, r.interest_rate AS INTEREST_RATE,
       r.primary_accts[2] AS PRIMARY_ACCT,
       array_to_string(r.posting_restrict, ',') AS POSTING_RESTRICT,
       array_to_string(r.inputter_ops, ' ') AS INPUTTER_HIS,
       r.branch AS BRANCH, {_IDENT},
       m.acct_no AS ACCT_NO, m.ccy AS CCY, m.amount AS AMOUNT, m.rate AS RATE
FROM read_parquet('{{gt}}/gt_records.parquet') r
LEFT JOIN read_parquet('{{gt}}/gt_mv.parquet') m USING (recid)
"""

STREAM_EXPECTED = """
SELECT RECID, SEQ, OP, CUSTOMER_NO, BALANCE, VALUE_DATE, SHORT_NAME FROM (
  SELECT recid AS RECID, seq AS SEQ, op AS OP, customer_no AS CUSTOMER_NO,
         balance AS BALANCE, value_date AS VALUE_DATE,
         substr(short_name, 1, 35) AS SHORT_NAME
  FROM read_parquet('{gt}/gt_events.parquet')
  QUALIFY row_number() OVER (PARTITION BY recid ORDER BY seq DESC) = 1
) WHERE OP <> 'DELETE'
"""


def _compare(expected_sql: str, actual_dir: str) -> list[str]:
    """Multiset equality of the expected rows and the parquet files
    under ``actual_dir``, by column name."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(f"CREATE TEMP VIEW expected AS {expected_sql}")
        con.execute(
            f"CREATE TEMP VIEW actual_raw AS SELECT * FROM read_parquet('{actual_dir}/*.parquet')"
        )
        want = [r[0] for r in con.execute("DESCRIBE expected").fetchall()]
        got = [r[0] for r in con.execute("DESCRIBE actual_raw").fetchall()]
        if sorted(want) != sorted(got):
            return [f"columns differ: expected {want}, got {got}"]
        cols = ", ".join(f'"{c}"' for c in want)
        con.execute(f"CREATE TEMP VIEW actual AS SELECT {cols} FROM actual_raw")
        errors = []
        n_want, n_got = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0] for v in ("expected", "actual"))
        if n_want != n_got:
            errors.append(f"row count: expected {n_want}, got {n_got}")
        for a, b in (("expected", "actual"), ("actual", "expected")):
            rows = con.execute(f"SELECT * FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b}) LIMIT 3").fetchall()
            if rows:
                errors.append(f"rows in {a} but not in {b}, e.g. {rows[0]}")
        return errors
    finally:
        con.close()


def check_backfill(gt_dir: str, sink_dir: str) -> list[str]:
    return _compare(BACKFILL_EXPECTED.format(gt=gt_dir), sink_dir)


def check_stream(gt_dir: str, state_dir: str) -> list[str]:
    return _compare(STREAM_EXPECTED.format(gt=gt_dir), state_dir)


def count_rows(parquet_dir: str) -> int:
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{parquet_dir}/*.parquet')").fetchone()[0]


# ---------------------------------------------------------------------------
# compile: sink columns and DDL implied by the request body
# ---------------------------------------------------------------------------

_FUNC_ALIAS = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*\(.*\)\s+(\S+)\s*$")
_NESTED_ALIAS = re.compile(r"^.*\)\s*(\S*)\s*$")
_DECIMAL = re.compile(r"^decimal\(\d+,\d+\)$")
_ORACLE = {"string": "VARCHAR2(4000)", "date": "DATE", "timestamp_ntz": "TIMESTAMP",
           "bigint": "NUMBER(19)", "int": "NUMBER(10)"}


def _out_name(f: dict) -> str:
    name = f["name"].removeprefix("LOCALREF_")
    if m := _FUNC_ALIAS.match(f.get("transformation", "")):
        name = m.group(1)
    nested = f.get("nested", "")
    if "$" in nested and (m := _NESTED_ALIAS.match(nested)) and m.group(1):
        name = m.group(1)
    return name.upper()


def _out_type(f: dict) -> str:
    cast = f.get("type", ["string", "string"])[1]
    if cast != "string":
        return cast
    return {"parse_date": "date", "parse_timestamp": "timestamp_ntz"}.get(f.get("transformation", ""), "string")


def _oracle(t: str) -> str:
    return f"NUMBER{t[len('decimal'):]}" if _DECIMAL.match(t) else _ORACLE[t]


def expected_columns(body: dict) -> tuple[list[tuple[str, str]], bool]:
    """(name, Spark type) of each sink column, and whether the pipeline
    explodes multivalues."""
    fields = body["procData"]
    delim = body.get("blobDelim") if body.get("procType") == "BLOB" else None
    sv = [f for f in fields if f.get("should_parse_sv", True)]
    mv = [f for f in fields if f.get("should_parse_vm")] + [f for f in fields if f.get("should_parse_vs")]
    exploded = bool(mv) and delim not in ("FE", "SPLIT")
    return [(_out_name(f), _out_type(f)) for f in sv + (mv if exploded else [])], exploded


_DDL_COL = re.compile(r'^  "([^"]+)" ([A-Z0-9_(),]+?),?$', re.MULTILINE)


def check_compile(body: dict, sink_fields: list[tuple[str, str]], ddl: str) -> list[str]:
    """``sink_fields`` is ``[(name, simpleString type)]`` of the bound
    sink schema; ``ddl`` the generated CREATE TABLE text."""
    want, exploded = expected_columns(body)
    errors = []
    if sink_fields != want:
        diff = [(w, g) for w, g in zip(want, sink_fields) if w != g][:3]
        errors.append(f"sink columns differ ({len(want)} vs {len(sink_fields)}): {diff}")
    table = f'CREATE TABLE T24BNK."{body["schemaName"]}_SINK" ('
    if not ddl.startswith(table):
        errors.append(f"DDL header: {ddl.splitlines()[0]!r}")
    ddl_cols = _DDL_COL.findall(ddl)
    want_ddl = [(n, _oracle(t)) for n, t in want]
    if ddl_cols != want_ddl:
        diff = [(w, g) for w, g in zip(want_ddl, ddl_cols) if w != g][:3]
        errors.append(f"DDL columns differ ({len(want_ddl)} vs {len(ddl_cols)}): {diff}")
    has_pk = 'PRIMARY KEY ("RECID")' in ddl
    want_pk = not exploded and any(n == "RECID" for n, _ in want)
    if has_pk != want_pk:
        errors.append(f"DDL primary key: expected {want_pk}, got {has_pk}")
    return errors


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and count of the data files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files
