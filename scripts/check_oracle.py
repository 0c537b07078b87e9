#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [key ...]

Registers each parquet table as a DuckDB view, runs every oracle SQL from
<verifyOutDir>/oracle_sql.json, and compares against the Spark dump at
<verifyOutDir>/<name>/ (row count, sorted column names, and a value hash that
is insensitive to row order). Optional trailing key names restrict the run
(the scale_gate.sh per-key harness: one process per key so a timeout or a
disk-filling DuckDB spill stays contained).
"""
import sys, os, json, glob, hashlib, functools
print = functools.partial(print, flush=True)  # progress visible when redirected
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only_keys = set(sys.argv[3:])
con = duckdb.connect()
# Bound DuckDB (default: 80% of RAM) so a heavy oracle SPILLS to .tmp
# instead of racing a co-resident Spark JVM into the kernel OOM killer —
# measured at the 1000x gate: the unbounded d28 scan reached 107 GB RSS and
# took the box down. Override via GRAFT_DUCKDB_MEM.
con.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '24GB')}'")
# DuckDB defaults to every core — the right call for a standalone/serial
# gate on an otherwise-idle box, so only bound threads when the caller asks
# (export GRAFT_DUCKDB_THREADS when the gate shares the box with a live
# Spark dump; an unconditional default here halved the serial scale_gate.sh
# path's parallelism under the same 600s timeout).
if "GRAFT_DUCKDB_THREADS" in os.environ:
    con.execute(f"SET threads={os.environ['GRAFT_DUCKDB_THREADS']}")
con.execute("SET temp_directory='.tmp'")
# Cap the spill so one heavy oracle fails FAST with a clean error instead
# of filling the disk and crashing its neighbors (measured at the x1000
# gate: two concurrent >12 GB spillers took down three unrelated keys).
con.execute(
    f"SET max_temp_directory_size='{os.environ.get('GRAFT_DUCKDB_TMPMAX', '64GB')}'")
import os
for f in glob.glob(f"{sf_dir}/*.parquet"):
    name = f.split("/")[-1].removesuffix(".parquet")
    # driver testdata is one file per table; Spark-written dirs (ScaleGen's
    # 10x dataset) hold part files — glob inside in that case
    src = f"{f}/*.parquet" if os.path.isdir(f) else f
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    if name == "events":
        # ScaleGen keeps ts as raw BIGINT nanos (the driver testdata has
        # TIMESTAMP(NANOS)); mirror Tables.events' floor-to-micros read
        (ts_type,) = [t for c, t, *_ in con.execute(f"DESCRIBE {name}").fetchall()
                      if c == "ts"]
        # NOTE on division semantics (round-4 ADVICE): DuckDB's `//` on
        # BIGINT truncates toward zero (measured: SELECT -7 // 2 -> -3),
        # matching Spark's `ts div 1000` exactly — including pre-1970
        # (negative) timestamps. `//` floors only for FLOAT/DOUBLE operands.
        # Separately: TIMESTAMP(NANOS) fixtures keep nanos in DuckDB while
        # Spark floors to micros — driver testdata is micro-aligned (ts
        # generated in ms), so no drift; non-micro-aligned fixtures would
        # need the same floor applied to the DuckDB view.
        if ts_type == "BIGINT":
            con.execute(f"""CREATE OR REPLACE VIEW {name} AS
                SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM '{src}'""")

with open(f"{out_dir}/oracle_sql.json") as fh:
    oracles = json.load(fh)
if only_keys:
    missing = only_keys - set(oracles)
    if missing:
        print(f"FAIL: requested keys not in oracle_sql.json: {sorted(missing)}")
        sys.exit(1)
    oracles = {k: v for k, v in oracles.items() if k in only_keys}

class Unhashable(Exception):
    """The driver's pandas comparator factorizes column values, which dies on
    list/dict/array cells (CORRECTNESS_r03 q33/q36) — mirror that here so a
    nested-typed gate column fails locally too, not just on the driver."""

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, (list, dict, set, tuple)) or type(v).__name__ == "ndarray":
        raise Unhashable(f"nested/array value of type {type(v).__name__}: {v!r:.80}")
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    return str(v)

def pandas_kind(duck_type):
    """Pandas dtype kind a DuckDB column of this declared type materializes
    as on the driver ('i' int, 'f' float, 'b' bool, 'M' datetime, 'O' other)."""
    t = duck_type.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "i"
    if t in ("FLOAT", "DOUBLE", "HUGEINT", "UHUGEINT") or t.startswith("DECIMAL"):
        return "f"  # HUGEINT/DECIMAL land as float64 in pandas — the t21 trap
    if t == "BOOLEAN":
        return "b"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "M"
    return "O"

def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()

# Above this many Spark-dump rows, hashing switches from the driver-parity
# python path (fetchall + sorted canonical lines — faithful to the driver's
# pandas compare, but it materializes BOTH result sets in one process: a
# 600M-row x1000 key is a >100 GB fetch, the round-11 rc=-9 class) to a
# STREAMING multiset hash computed inside DuckDB: one aggregate scan per
# side, (COUNT(*), SUM(hash(canonical_row))), order-independent and
# constant-memory. The canonicalization differs from the python path
# (DuckDB VARCHAR casts, doubles rounded to 9 places), but BOTH sides go
# through the identical SQL, so equality is exactly as meaningful — what's
# lost is only the per-row diff preview on mismatch.
STREAM_ROWS = int(os.environ.get("GRAFT_STREAM_HASH_ROWS", "20000000"))

def stream_hash(rel_sql, cols, types):
    """(n, multiset-hash) of a relation in one streaming DuckDB aggregate.
    cols/types: lowercase names + declared DuckDB types, pre-validated
    (no nested types, no dtype drift) by the callers' shared checks."""
    parts = []
    for c, t in sorted(zip(cols, types)):
        # floats go through DOUBLE before rounding: FLOAT-vs-DOUBLE across
        # sides shares a pandas kind (passes the drift gates) but formats
        # differently as VARCHAR (float32 vs float64 shortest-repr)
        v = (f'round(CAST("{c}" AS DOUBLE), 9)'
             if t.upper() in ("FLOAT", "DOUBLE") else f'"{c}"')
        parts.append(f"COALESCE(CAST({v} AS VARCHAR), 'NULL')")
    canon_row = " || '|' || ".join(parts)
    n, h = con.sql(
        f"SELECT COUNT(*), SUM(hash({canon_row})) FROM ({rel_sql})").fetchone()
    return n, int(h) if h is not None else None

fails = 0
for name, sql in sorted(oracles.items()):
    spark_src = f"SELECT * FROM '{out_dir}/{name}/*.parquet'"
    try:
        spark_rel = con.sql(spark_src)
        s_cols = [c.lower() for c in spark_rel.columns]
        # row count from parquet metadata — cheap, decides the hash path
        # BEFORE any full materialization
        (s_count,) = con.sql(
            f"SELECT COUNT(*) FROM '{out_dir}/{name}/*.parquet'").fetchone()
        s_rows = spark_rel.fetchall() if s_count <= STREAM_ROWS else None
    except Exception as e:
        print(f"FAIL {name}: spark dump unreadable: {e}")
        fails += 1
        continue
    try:
        duck_rel = con.sql(sql)  # lazy: declared schema without execution
        d_cols = [c.lower() for c in duck_rel.columns]
        # Bound the duck-side fetch by the SPARK row count: when the dump is
        # small but the oracle result is huge (join-fanout oracle bug — the
        # mismatch class this gate exists to catch), an unbounded fetchall
        # reproduces the rc=-9 OOM kill instead of a clean row-count FAIL.
        # fetchmany(s_count + 1): one extra row proves duck > spark.
        d_rows = duck_rel.fetchmany(s_count + 1) if s_rows is not None else None
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}")
        fails += 1
        continue
    if sorted(s_cols) != sorted(d_cols):
        print(f"FAIL {name}: columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        fails += 1
        continue
    # Dtype-drift gate (CORRECTNESS_r04 t21): the driver materializes the
    # DuckDB result through pandas, where HUGEINT/DECIMAL become float64 —
    # so an un-cast SUM(int)*k // n hashes "0.0" against Spark's "0" and
    # fails on the driver even though fetchall() values are identical here.
    # Reject the types themselves instead of normalizing them away.
    drift = [f"{c}:{t}" for c, t in zip(d_cols, map(str, duck_rel.types))
             if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL")
             or t.startswith("UINTEGER") or t.startswith("UBIGINT")]
    if drift:
        print(f"FAIL {name}: oracle dtype drift (cast to BIGINT/DOUBLE): {drift}")
        fails += 1
        continue
    # Mirror the driver's pandas comparison: per-column dtype KINDS must
    # agree (int-vs-float on one side is a driver hash fail even when every
    # value is integral). Compared on DECLARED types — no re-execution of
    # the (expensive) oracle SQL.
    s_kinds = {c: pandas_kind(t) for c, t in zip(s_cols, map(str, spark_rel.types))}
    d_kinds = {c: pandas_kind(t) for c, t in zip(d_cols, map(str, duck_rel.types))}
    kind_drift = [f"{c}: spark={s_kinds[c]} duck={d_kinds[c]}"
                  for c in s_kinds if s_kinds[c] != d_kinds[c]]
    if kind_drift:
        print(f"FAIL {name}: pandas dtype-kind drift: {kind_drift}")
        fails += 1
        continue
    if s_rows is None:
        # streaming multiset-hash path (see STREAM_ROWS above)
        s_types = list(map(str, spark_rel.types))
        d_types = list(map(str, duck_rel.types))
        nested = [f"{c}:{t}" for c, t in zip(s_cols + d_cols, s_types + d_types)
                  if "[" in t or t.startswith(("STRUCT", "MAP", "LIST"))]
        if nested:
            print(f"FAIL {name}: driver-unhashable cell (nested type in "
                  f"streaming path: {nested})")
            fails += 1
            continue
        try:
            s_n, s_h = stream_hash(spark_src, s_cols, s_types)
            d_n, d_h = stream_hash(sql, d_cols, d_types)
        except Exception as e:
            print(f"FAIL {name}: streaming hash error: {e}")
            fails += 1
            continue
        if s_n != d_n:
            print(f"FAIL {name}: rows spark={s_n} duck={d_n}")
            fails += 1
        elif s_h != d_h:
            print(f"FAIL {name}: streaming multiset-hash mismatch ({s_n} rows)")
            fails += 1
        else:
            print(f"PASS {name} ({s_n} rows, streaming hash)")
        continue
    if len(s_rows) != len(d_rows):
        d_n = (f">={len(d_rows)}" if len(d_rows) > s_count else str(len(d_rows)))
        print(f"FAIL {name}: rows spark={len(s_rows)} duck={d_n}")
        fails += 1
        continue
    try:
        hs, hd = table_hash(s_rows, s_cols), table_hash(d_rows, d_cols)
    except Unhashable as e:
        print(f"FAIL {name}: driver-unhashable cell ({e})")
        fails += 1
        continue
    if hs != hd:
        print(f"FAIL {name}: hash mismatch ({len(s_rows)} rows)")
        order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
        ls = sorted("|".join(canon(r[i]) for i in order_s) for r in s_rows)
        ld = sorted("|".join(canon(r[i]) for i in order_d) for r in d_rows)
        shown = 0
        for a, b in zip(ls, ld):
            if a != b:
                print(f"  spark: {a}\n  duck : {b}")
                shown += 1
                if shown >= 3:
                    break
        fails += 1
    else:
        print(f"PASS {name} ({len(s_rows)} rows)")

print(f"{'ALL PASS' if fails == 0 else f'{fails} FAILURES'} / {len(oracles)} queries")
sys.exit(1 if fails else 0)
