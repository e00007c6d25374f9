#!/usr/bin/env python3
"""Result-identity checks over `graft.Verify` dumps, in one canonical form:
columns sorted by name, rows sorted, every value compared by `repr`.

Oracle mode (needs the `duckdb` module): run DuckDB on each oracle_sql.json
entry over the sf tables and compare against the Verify parquet dumps.

    python3 tools/compare.py <sf_dir> <dump_dir>

Dump mode (offline, needs only `pyarrow`): compare every query of two Verify
dump directories, e.g. one made from a parent commit and one from a change.

    python3 tools/compare.py --dumps <dump_dir_a> <dump_dir_b>

Both modes print one PASS/FAIL line per query and exit non-zero on any FAIL.
"""
import glob
import math
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def canon(cols, rows):
    """Sorted column names and the sorted tuples of repr'd values, with the
    columns of each row in sorted-name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(norm(r[i]) for i in order) for r in rows))


def compare(got, exp):
    """'OK' or the first difference between two (cols, rows) results."""
    (gcols, g), (ecols, e) = canon(*got), canon(*exp)
    if gcols != ecols:
        return f"SCHEMA got={gcols} exp={ecols}"
    if len(g) != len(e):
        return f"ROWS got={len(g)} exp={len(e)}"
    if g == e:
        return "OK"
    return f"VALUES {[(a, b) for a, b in zip(g, e) if a != b][:3]}"


def report(results):
    ok = sum(1 for v in results.values() if v == "OK")
    for k, v in sorted(results.items()):
        print(("PASS " if v == "OK" else "FAIL ") + k +
              ("" if v == "OK" else "  " + str(v)[:500]))
    return ok


def read_dump(path):
    """(cols, rows) of one query's parquet dump; None if it has no output."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None
    t = pa.concat_tables([pq.read_table(f) for f in files])
    cols = t.column_names
    return cols, list(zip(*[t.column(c).to_pylist() for c in cols]))


def dump_mode(dir_a, dir_b):
    def names(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    results = {}
    for name in sorted(names(dir_a) | names(dir_b)):
        try:
            a = read_dump(os.path.join(dir_a, name))
            b = read_dump(os.path.join(dir_b, name))
            if a is None or b is None:
                results[name] = f"MISSING_OUTPUT a={a is not None} b={b is not None}"
            else:
                results[name] = compare(b, a)
        except Exception as ex:
            results[name] = f"READ_ERROR {type(ex).__name__}: {str(ex)[:300]}"
    ok = report(results)
    print(f"\n{ok}/{len(results)} queries identical")
    return ok == len(results) and len(results) > 0


def oracle_mode(sf_dir, out_dir):
    import json
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

    def rows_of(rel):
        df = rel.df()
        return list(df.columns), list(df.itertuples(index=False, name=None))
    results = {}
    for name, sql in sorted(oracle.items()):
        try:
            if not glob.glob(f"{out_dir}/{name}/*.parquet"):
                results[name] = "MISSING_SPARK_OUTPUT"
                continue
            got = rows_of(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
            results[name] = compare(got, rows_of(con.sql(sql)))
        except Exception as ex:
            results[name] = f"ORACLE_ERROR {type(ex).__name__}: {str(ex)[:300]}"
    ok = report(results)
    print(f"\n{ok}/{len(results)} oracle-checked queries pass")
    return ok == len(results)


if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) == 3 and args[0] == "--dumps":
        sys.exit(0 if dump_mode(args[1], args[2]) else 1)
    if len(args) == 2 and not args[0].startswith("-"):
        sys.exit(0 if oracle_mode(args[0], args[1]) else 1)
    sys.exit(__doc__)
