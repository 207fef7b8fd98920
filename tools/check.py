#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify output
against the DuckDB oracles and diff. Dev tool only — not part of the
library. Usage: python3 tools/check.py <outDir> <sfDir> [query ...]
(run `sbt "runMain graft.Verify <sfDir> <outDir>"` first).

Driver parity (the r09 lesson): the driver compares through PANDAS —
it sorts columns by name, sorts rows, and hashes dtype-sensitively. A
repr()-level compare passes where the driver fails (DuckDB HUGEINT →
float64 vs Spark int64; array cells crash pandas' sorter), so this gate
now (a) loads both sides into pandas, (b) FAILS on non-flat output
schemas (LIST/STRUCT/MAP) and on oracles whose result carries HUGEINT,
(c) compares via DataFrame.equals, which is dtype-sensitive."""
import sys, os, json, math, tempfile
import duckdb


def pandas_compare(name, got_rel, exp_rel, cols):
    """Emulate the driver: column-sorted, row-sorted, dtype-sensitive."""
    import pandas as pd
    got = got_rel.df()[cols]
    exp = exp_rel.df()[cols]
    if len(got) != len(exp):
        return f"rows got={len(got)} exp={len(exp)}"
    try:
        got_s = got.sort_values(cols).reset_index(drop=True)
        exp_s = exp.sort_values(cols).reset_index(drop=True)
    except TypeError as e:
        return f"unsortable output column (array/struct?): {e}"
    for c in cols:
        # KIND-level, not width-level: int32 vs int64 hashes identically
        # through the driver's pandas bridge (r09 evidence: q45-class
        # queries with int32 rnk vs BIGINT oracles were green), while
        # int vs float diverges (the q175/q179 HUGEINT→float64 reds).
        gk, ek = got_s[c].dtype.kind, exp_s[c].dtype.kind
        if gk != ek and not ({gk, ek} <= {"i", "u"}):
            return (f"dtype kind divergence on {c}: "
                    f"spark={got_s[c].dtype} oracle={exp_s[c].dtype}")
        if got_s[c].dtype != exp_s[c].dtype:  # same-kind width gap
            got_s[c] = got_s[c].astype("int64")
            exp_s[c] = exp_s[c].astype("int64")
    if not got_s.equals(exp_s):
        neq = (got_s != exp_s) & ~(got_s.isna() & exp_s.isna())
        bad = neq.any(axis=1)
        rows = list(got_s[bad].head(3).itertuples(index=False))
        rows_e = list(exp_s[bad].head(3).itertuples(index=False))
        return f"value mismatch, e.g. got={rows} exp={rows_e}"
    return None


NESTED = ("LIST", "STRUCT", "MAP", "ARRAY", "[]")


def lint_types(types):
    return [t for t in types
            if any(tag in str(t).upper() for tag in NESTED)]


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    # An in-memory connection spills to .tmp under the working directory;
    # spill to a temp dir instead, which goes with the process. Spilling
    # alone does not carry q223's oracle at sf0.1: on four threads it
    # mostly fails an allocation at 6-7 GB resident, and a memory_limit
    # does not cap it; on one thread it completes (8.3 GB peak).
    spill = tempfile.TemporaryDirectory(prefix="check-duckdb-")
    con = duckdb.connect(config={"temp_directory": spill.name, "threads": 1})
    for tbl in ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_skip = 0
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        if only and name not in only:
            continue
        got_rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
        bad_got = lint_types(got_rel.types)
        if bad_got:
            print(f"FAIL {name}: non-flat output schema {bad_got} — "
                  "the driver's pandas sorter crashes on array/struct cells")
            n_fail += 1
            continue
        if name not in oracles:
            n = got_rel.fetchall()
            print(f"ROWS-ONLY {name}: rows={len(n)}")
            n_skip += 1
            continue
        try:
            exp_rel = con.sql(oracles[name])
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if any("HUGEINT" in str(t).upper() for t in exp_rel.types):
            print(f"FAIL {name}: oracle result carries HUGEINT "
                  f"{list(zip(exp_rel.columns, exp_rel.types))} — "
                  "CAST(... AS BIGINT) in the oracle SQL")
            n_fail += 1
            continue
        bad_exp = lint_types(exp_rel.types)
        if bad_exp:
            print(f"FAIL {name}: non-flat oracle schema {bad_exp}")
            n_fail += 1
            continue
        got_cols = sorted(got_rel.columns)
        exp_cols = sorted(exp_rel.columns)
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns differ got={got_cols} exp={exp_cols}")
            n_fail += 1
            continue
        err = pandas_compare(name, got_rel, exp_rel, got_cols)
        if err is None:
            print(f"PASS {name}")
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: {err}")
    print(f"== pass={n_pass} fail={n_fail} rows_only={n_skip}")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
