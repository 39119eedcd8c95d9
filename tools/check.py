#!/usr/bin/env python3
"""Driver-mimic correctness check: compare Verify parquet dumps against the
DuckDB oracle, sorting columns by name and hashing values — run locally
before every commit so the real gate holds no surprises.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--pandas]

After the per-query results it prints each oracle query's DuckDB time,
slowest first, then the N/N summary line.

Two modes, BOTH of which must be green before a commit:
  default  — pyarrow + fetchall (typed Python values; catches value bugs)
  --pandas — replicates the DRIVER's path: oracle via duckdb .df() (where
             HUGEINT sums become float64 and render "137.0"), both sides
             sorted with pandas sort_values (which CRASHES on array-valued
             cells — `Categorical ... unhashable`), cells rendered with
             str(). Every r8/r9 "locally green, driver red" flap lived
             exactly in the gap between these two paths.
"""
import sys, os, json, hashlib, math, glob, time
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in v.items()) + "}"
    return str(v)


def read_spark(spark_dir):
    """Read Spark's parquet output directly via pyarrow — NOT through DuckDB,
    whose type coercion (HUGEINT/DECIMAL widening) masks exactly the
    rendering differences the driver's hash catches."""
    files = sorted(glob.glob(f"{spark_dir}/*.parquet"))
    cols, rows = None, []
    for f in files:
        tbl = pq.read_table(f)
        if cols is None:
            cols = tbl.column_names
        for r in tbl.to_pylist():
            rows.append([r[c] for c in cols])
    return cols or [], rows


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest(), len(lines)


def read_spark_pandas(spark_dir):
    """The driver's Spark-side read: parquet → pandas. date_as_object=False
    so DATE columns land as datetime64 — matching duckdb .df(), which is the
    only way q09_sort (DATE output) can be green on the real driver."""
    import pandas as pd
    files = sorted(glob.glob(f"{spark_dir}/*.parquet"))
    frames = [pq.read_table(f).to_pandas(date_as_object=False) for f in files]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def pandas_hash(df):
    """The driver's compare: columns sorted by name, rows via sort_values
    over ALL columns (this is where list-valued cells throw), cells
    rendered with str() (this is where HUGEINT→float64 shows as "1.0")."""
    cols = sorted(df.columns, key=str.lower)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort")
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        ln = "|".join("NULL" if v is None or (isinstance(v, float) and math.isnan(v))
                      else str(v) for v in row)
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest(), len(df)


def timed(timings, name, run):
    """run() under a wall timer; the seconds land in timings[name] even
    when run() raises."""
    t0 = time.perf_counter()
    try:
        return run()
    finally:
        timings[name] = time.perf_counter() - t0


def compare_pandas(con, sql, spark_dir, timings, name):
    """Driver-path compare; returns 'OK' or a failure string. Exceptions
    (e.g. pandas sort on unhashable list cells) surface as ERROR — the
    exact class the driver records as an `err` row."""
    sdf = read_spark_pandas(spark_dir)
    odf = timed(timings, name, lambda: con.execute(sql).df())
    if sorted(c.lower() for c in sdf.columns) != sorted(c.lower() for c in odf.columns):
        return (f"SCHEMA_MISMATCH spark={sorted(sdf.columns)} "
                f"oracle={sorted(odf.columns)}")
    sh, sn = pandas_hash(sdf)
    oh, on = pandas_hash(odf)
    if sn != on:
        return f"ROWCOUNT_MISMATCH spark={sn} oracle={on}"
    if sh != oh:
        return f"HASH_MISMATCH rows={sn} (pandas-path rendering differs)"
    return "OK"


def main(sf_dir, out_dir, pandas_mode=False):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    timings = {}  # oracle query -> DuckDB seconds
    for name, sql in sorted(oracle.items()):
        spark_dir = f"{out_dir}/{name}"
        if not os.path.isdir(spark_dir):
            results[name] = "MISSING_SPARK_OUTPUT"
            continue
        if pandas_mode:
            try:
                results[name] = compare_pandas(con, sql, spark_dir, timings, name)
            except Exception as e:
                results[name] = f"ERROR: {type(e).__name__}: {e}"
            continue
        try:
            scols, srows = read_spark(spark_dir)

            def run_oracle():
                r = con.execute(sql)
                return [d[0] for d in r.description], r.fetchall()
            ocols, orows = timed(timings, name, run_oracle)
        except Exception as e:
            results[name] = f"ERROR: {e}"
            continue
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            results[name] = f"SCHEMA_MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}"
            continue
        sh, sn = table_hash(scols, srows)
        oh, on = table_hash(ocols, orows)
        if sn != on:
            results[name] = f"ROWCOUNT_MISMATCH spark={sn} oracle={on}"
        elif sh != oh:
            # show first diff for debugging
            sset = set("|".join(norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i].lower())) for r in srows)
            oset = set("|".join(norm_cell(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i].lower())) for r in orows)
            ex_s = list(sset - oset)[:2]
            ex_o = list(oset - sset)[:2]
            results[name] = f"HASH_MISMATCH rows={sn} spark_only={ex_s} oracle_only={ex_o}"
        else:
            results[name] = "OK"
    n_ok = sum(1 for v in results.values() if v == "OK")
    mode = "pandas (driver-path)" if pandas_mode else "pyarrow"
    for name, v in sorted(results.items()):
        mark = "✓" if v == "OK" else "✗"
        print(f"{mark} {name}: {v}")
    print(f"\n[{mode}] DuckDB time per oracle query, slowest first "
          f"(total {sum(timings.values()):.1f}s):")
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        print(f"  {sec:8.2f}s  {name}")
    print(f"\n[{mode}] {n_ok}/{len(results)} queries match")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sys.exit(main(args[0], args[1], pandas_mode="--pandas" in sys.argv))
