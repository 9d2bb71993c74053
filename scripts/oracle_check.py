#!/usr/bin/env python3
"""DuckDB oracle compare for a graft.Verify dump.

Usage: oracle_check.py <sfDir> <dumpDir> [q1,q2,...]

<dumpDir> is what `graft.Verify <sfDir> <dumpDir>` writes: each query's
Spark result as parquet under the bare directory <dumpDir>/<name>/, and
every query's oracleSql in <dumpDir>/oracle_sql.json. For each named
query (default: every key of oracle_sql.json) the script runs the oracle
against DuckDB views over <sfDir> and compares the results:
columns sorted by name, rows sorted, floats at %.6g. A query with no
dump is a failure. Prints `checked N/M` and exits non-zero when any
check fails or nothing was checked.
"""
import sys, json, glob
import duckdb


def norm(v):
    # mirror the driver's float normalization (%.6g): engines may differ
    # in the last ulps of an accumulation (e.g. a running-sum order), and
    # the driver's gate treats those as equal
    if isinstance(v, float):
        return "%.6g" % v
    return v


def canon(rows, cols, normalize=True):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple((norm(r[i]) if normalize else r[i]) for i in order))
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [sorted(cols), out]


def main():
    sf_dir, dump_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{dump_dir}/oracle_sql.json"))
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else sorted(oracle)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ok = True
    checked = 0
    for n in names:
        files = glob.glob(f"{dump_dir}/{n}/*.parquet")
        if not files:
            print(f"{n}: NO DUMP (no parquet under {dump_dir}/{n}/)")
            ok = False
            continue
        sr = con.execute(
            f"SELECT * FROM read_parquet({files!r})")
        s_cols = [d[0] for d in sr.description]
        s_rows = sr.fetchall()
        orr = con.execute(oracle[n])
        o_cols = [d[0] for d in orr.description]
        o_rows = orr.fetchall()
        sc, so = canon(s_rows, s_cols), canon(o_rows, o_cols)
        if sc[0] != so[0]:
            print(f"{n}: SCHEMA MISMATCH spark={sc[0]} oracle={so[0]}")
            ok = False
        elif len(sc[1]) != len(so[1]):
            print(f"{n}: ROWS {len(sc[1])} vs {len(so[1])}")
            ok = False
        elif sc[1] != so[1]:
            diffs = [i for i, (a, b) in enumerate(zip(sc[1], so[1])) if a != b]
            print(f"{n}: HASH MISMATCH ({len(diffs)} differing rows; "
                  f"first: spark={sc[1][diffs[0]]} oracle={so[1][diffs[0]]})")
            ok = False
        else:
            # the %.6g normalization can silently absorb real sub-1e-6
            # cross-engine drift — when it is load-bearing, SAY so, so a
            # "pass" claiming bit-identical values stays auditable
            raw_s = canon(s_rows, s_cols, normalize=False)
            raw_o = canon(o_rows, o_cols, normalize=False)
            note = ("" if raw_s[1] == raw_o[1]
                    else " [values differed pre-norm: %.6g normalization"
                         " was load-bearing]")
            print(f"{n}: pass ({len(sc[1])} rows){note}")
        checked += 1
    print(f"checked {checked}/{len(names)}")
    sys.exit(0 if ok and checked > 0 else 1)


main()
