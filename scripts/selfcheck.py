#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads the parquet
dumps produced by `graft.Verify`, runs each oracle SQL in DuckDB over the
same testdata, and compares (schema by sorted column name, values after
row-sort). Usage: selfcheck.py <sfDir> <verifyOutDir> [--only a,b]
--only checks just the named queries (the SPARK_GRAFT_ONLY filter of a
Verify run); an entry ending in `*` names every query with that prefix
(`--only 'qst*'`), as in graft.SparkEntry.onlyFilter. A name with no
oracle, or a pattern that matches none, is a FAIL.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # tz-aware → naive, ns → us alignment
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)

# The driver's gate hashes the pandas RENDERING of every cell, so an
# oracle whose bare SUM(INTEGER) comes back from DuckDB as HUGEINT (which
# pandas materializes as float64: "19525.0") fails the driver even when
# every value is numerically equal to the engine's BIGINT ("19525").
# To keep this local gate a conservative superset of the driver's, compare
# dtype CLASSES too: int-vs-float (or any cross-class pair) is a FAIL here
# even though the values compare equal — the fix is always to CAST the
# oracle column to the engine's type (e.g. CAST(SUM(x) AS BIGINT)).
def dtype_class(dt) -> str:
    k = getattr(dt, "kind", "?")
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "ts", "m": "td", "O": "obj", "S": "obj",
            "U": "obj"}.get(k, k)

def dtype_mismatch(got: pd.DataFrame, exp: pd.DataFrame):
    bad = []
    for c in got.columns:
        g, e = dtype_class(got[c].dtype), dtype_class(exp[c].dtype)
        if g != e:
            bad.append(f"{c}: spark={got[c].dtype}({g}) oracle={exp[c].dtype}({e})")
    return bad

def only_matches(entry: str, name: str) -> bool:
    """One --only entry against a query name: `prefix*` matches by
    prefix, anything else by the exact name."""
    if entry.endswith("*"):
        return name.startswith(entry[:-1])
    return name == entry

def main(sf_dir: str, out_dir: str, only=None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for entry in sorted(only or ()):
        if not any(only_matches(entry, name) for name in oracles):
            print(f"FAIL {entry}: no oracle"); n_fail += 1
    for name, sql in sorted(oracles.items()):
        if only is not None and not any(only_matches(e, name) for e in only):
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            exp = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}"); n_fail += 1; continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            n_fail += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}"); n_fail += 1; continue
        bad_types = dtype_mismatch(got, exp)
        if bad_types:
            print(f"FAIL {name}: dtype class mismatch: {'; '.join(bad_types)}")
            n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                          check_exact=True)
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch: {str(e)[:300]}"); n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0

if __name__ == "__main__":
    args, only = sys.argv[1:], None
    if "--only" in args:
        i = args.index("--only")
        only = {n.strip() for n in args[i + 1].split(",") if n.strip()}
        del args[i:i + 2]
    sys.exit(main(args[0], args[1], only))
