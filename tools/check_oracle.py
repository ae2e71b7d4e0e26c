#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify via sbt,
then execute each oracle SQL in DuckDB over the same parquet tables and
compare (columns sorted by name, values hashed row-wise after sorting).

Both sides are canonicalized THROUGH PANDAS (`.df()`), mirroring the driver:
DuckDB type widening (e.g. windowed SUM(BIGINT) -> HUGEINT -> float64)
changes the stringified values ("0.0" vs "0") and must fail here exactly
as it fails on the driver. A repr-over-fetchall canon (Python ints on both
sides) hid that class of bug through round 7 (d47).

Usage: python3 tools/check_oracle.py [sfdir] [outdir]
"""
import json, sys, glob, os
import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_df(df):
    """Sort columns by name, stringify each PANDAS-NATIVE cell, sort rows."""
    df = df[sorted(df.columns)]
    rows = sorted(
        tuple(repr(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    )
    return rows, list(df.columns), {c: df[c].dtype.kind for c in df.columns}


def array_cols(df):
    # pandas cannot sort rows on array-typed cells (numpy.ndarray is
    # unhashable in the driver's canonicalizer) — flag any complex-typed
    # output column as a failure even though repr-hashing could cope.
    bad = set()
    for c in df.columns:
        for v in df[c].head(100):
            if isinstance(v, (list, dict, set)) or type(v).__name__ == "ndarray":
                bad.add(c)
                break
    return sorted(bad)


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    results = {}
    # every gate the oracle names counts, written or not: a gate that threw
    # in Verify leaves no output dir and must not drop out of the total
    dirs = {n for n in os.listdir(OUT) if os.path.isdir(os.path.join(OUT, n))}
    for name in sorted(dirs | set(oracle)):
        pdir = os.path.join(OUT, name)
        files = glob.glob(f"{pdir}/*.parquet")
        if not files:
            results[name] = "NO_OUTPUT"
            continue
        gdf = con.execute(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").df()
        bad = array_cols(gdf)
        if bad:
            results[name] = (f"ARRAY_TYPED_OUTPUT {bad}: the driver's pandas "
                             "canonicalizer cannot sort these — stringify "
                             "(concat_ws) in the query")
            continue
        if name not in oracle:
            results[name] = f"ROWS_ONLY({len(gdf)})"
            continue
        try:
            edf = con.execute(oracle[name]).df()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        gc, gn, gk = canon_df(gdf)
        ec, en, ek = canon_df(edf)
        if gn != en:
            results[name] = f"SCHEMA_MISMATCH spark={gn} duckdb={en}"
            continue
        # dtype-kind drift (int vs float etc.) is exactly the d47 failure
        # shape — surface it by name even when the hashes happen to agree.
        kinds = [c for c in gn if gk[c] != ek[c]]
        if gc == ec:
            results[name] = f"MATCH({len(gdf)})" + (
                f" DTYPE_KIND_DRIFT {[(c, gk[c], ek[c]) for c in kinds]}" if kinds else "")
        else:
            diff = [i for i, (a, b) in enumerate(zip(gc, ec)) if a != b][:3]
            msg = f"HASH_MISMATCH rows={len(gdf)}vs{len(edf)}"
            if kinds:
                msg += f" DTYPE_KIND_DRIFT {[(c, gk[c], ek[c]) for c in kinds]}"
            for i in diff:
                msg += f"\n    spark[{i}]={gc[i]}\n    duck [{i}]={ec[i]}"
            if len(gc) != len(ec):
                only_g = set(map(tuple, gc)) - set(map(tuple, ec))
                only_e = set(map(tuple, ec)) - set(map(tuple, gc))
                msg += f"\n    only_spark={list(only_g)[:2]}\n    only_duck={list(only_e)[:2]}"
            results[name] = msg
    npass = sum(1 for v in results.values()
                if (v.startswith(("MATCH", "ROWS_ONLY")) and "DRIFT" not in v))
    for k, v in results.items():
        print(f"{k}: {v}")
    print(f"\n{npass}/{len(results)} ok")


if __name__ == "__main__":
    main()
