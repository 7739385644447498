#!/usr/bin/env python3
"""Local self-check mimicking the driver's correctness gate.

Reads Verify output (<outDir>/<name>/ parquet + oracle_sql.json), runs each
oracle SQL in DuckDB against the sfDir tables, and compares result multisets
(columns sorted by name, rows sorted, floats compared exactly after both
sides round-trip through float64).

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, math
import duckdb

def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = repr(v)
            vals.append((str(type(v).__name__) if v is not None else "none",
                         str(v)))
        out.append(tuple(vals))
    out.sort()
    return out

def capped_connect():
    """A DuckDB connection capped at half the machine's memory and, for its
    spill files, half the free space of its temp directory: an oracle over
    either cap fails with DuckDB's error instead of exhausting the host."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect(config={"memory_limit": f"{mem // 2 >> 20}MB"})
    tmp = os.path.abspath(
        con.execute("SELECT current_setting('temp_directory')").fetchone()[0])
    while not os.path.exists(tmp):  # DuckDB makes it on the first spill
        tmp = os.path.dirname(tmp)
    st = os.statvfs(tmp)
    con.execute(f"SET max_temp_directory_size = '{st.f_bavail * st.f_frsize // 2 >> 20}MB'")
    print("duckdb caps: " + ", ".join(
        f"{k}={con.execute(f'SELECT current_setting({k!r})').fetchone()[0]}"
        for k in ("memory_limit", "max_temp_directory_size")))
    return con

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = capped_connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = os.path.join(sfdir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    n_pass = n_fail = n_rowsonly = 0
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d):
            continue
        got = con.sql(f"SELECT * FROM '{d}/*.parquet'")
        got_rows, got_cols = got.fetchall(), [c for c in got.columns]
        if name not in oracle:
            print(f"ROWS-ONLY {name}: {len(got_rows)} rows")
            n_rowsonly += 1
            continue
        try:
            exp = con.sql(oracle[name])
            exp_rows, exp_cols = exp.fetchall(), [c for c in exp.columns]
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            n_fail += 1
            continue
        # The driver's hasher canonicalizes type tags, so a DuckDB type with
        # no Spark analogue (HUGEINT from SUM over ints, unsigned ints) hash-
        # mismatches even when every value is equal. Fail locally so local
        # green implies driver green; fix = CAST in the oracle SQL.
        bad_types = [(c, str(t)) for c, t in zip(exp_cols, exp.types)
                     if str(t).upper() in ("HUGEINT", "UHUGEINT", "UTINYINT",
                                           "USMALLINT", "UINTEGER", "UBIGINT")]
        if bad_types:
            print(f"FAIL {name}: oracle emits non-Spark types {bad_types} "
                  f"(cast to BIGINT in the oracle SQL)")
            n_fail += 1
            continue
        g, e = canon(got_rows, got_cols), canon(exp_rows, exp_cols)
        if g == e:
            print(f"PASS {name}: {len(g)} rows")
            n_pass += 1
        else:
            n_fail += 1
            diff_g = [r for r in g if r not in set(e)][:3]
            diff_e = [r for r in e if r not in set(g)][:3]
            print(f"FAIL {name}: {len(g)} vs {len(e)} rows")
            for r in diff_g: print(f"   spark-only: {r}")
            for r in diff_e: print(f"   oracle-only: {r}")
    print(f"== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)

main()
