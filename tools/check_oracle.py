#!/usr/bin/env python3
"""Local pre-validation of SparkEntry queries vs their DuckDB oracles.

Run graft.Verify first (writes one parquet dir per query + oracle_sql.json
holding the oracles of the queries it ran, all of them or a named subset),
then this script replays each oracle in DuckDB over the same sf tables
and compares (column-name-sorted, row-sorted) values exactly.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [c for c in sorted(cols)], out


def col_types(con, sql):
    """{column: duckdb type} for an arbitrary SELECT, without running it."""
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return {r[0]: r[1] for r in rows}


def type_family(t):
    """Driver-hash equivalence classes. The driver normalizes machine-int
    widths (q19/q42 were hash-green in r4 with Spark INTEGER vs oracle
    BIGINT) but NOT int128 or decimal: DuckDB's sum(BIGINT) -> HUGEINT
    broke q54/q57 on representation while every value matched. So int
    widths share a family; HUGEINT and DECIMAL are their own."""
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t == "HUGEINT":
        return "hugeint"
    if t.startswith("DECIMAL"):
        return "decimal"
    # FLOAT/REAL (32-bit) kept separate from DOUBLE: the driver's int-width
    # normalization is the only evidenced collapse; a Spark FLOAT column vs
    # an oracle DOUBLE must trip this gate (all current oracles emit DOUBLE,
    # so the split adds no false failures).
    if t in ("FLOAT", "REAL"):
        return "float32"
    if t == "DOUBLE":
        return "float64"
    return t


def type_mismatches(con, out_dir, name, sql):
    """The driver's hash is TYPE-sensitive across families: DuckDB widening
    sum(BIGINT) to HUGEINT (or decimal arithmetic to DECIMAL vs a DOUBLE
    parquet column) fails the gate even when every value matches (q54/q57,
    round 4). Compare the DuckDB-described type family of each oracle
    output column against the Spark-written parquet's, so the mismatch
    trips locally before the driver sees it."""
    got = col_types(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
    exp = col_types(con, sql)
    bad = []
    for c in sorted(set(got) & set(exp)):
        if type_family(got[c]) != type_family(exp[c]):
            bad.append(f"{c}: spark={got[c]} oracle={exp[c]}")
    return bad


def cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, float) and isinstance(b, float):
            if math.isnan(a) and math.isnan(b):
                return True
        return a == b
    return a == b


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_rows, got_cols = got.fetchall(), [d[0] for d in got.description]
            exp = con.execute(sql)
            exp_rows, exp_cols = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_bad += 1
            continue
        # DESCRIBE can fail independently of execution (e.g. a bad glob);
        # count that as a per-query FAIL rather than aborting the whole run.
        try:
            mism = type_mismatches(con, out_dir, name, sql)
        except Exception as e:
            print(f"FAIL {name}: type-describe error: {e}")
            n_bad += 1
            continue
        if mism:
            print(f"FAIL {name}: column TYPE mismatch (driver hash is "
                  f"type-sensitive): {'; '.join(mism)}")
            n_bad += 1
            continue
        gc, gr = canon(got_rows, got_cols)
        ec, er = canon(exp_rows, exp_cols)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} != {ec}")
            n_bad += 1
            continue
        if len(gr) != len(er):
            print(f"FAIL {name}: rowcount {len(gr)} != {len(er)}")
            n_bad += 1
            continue
        bad = None
        for i, (g, e) in enumerate(zip(gr, er)):
            if not all(cell_eq(a, b) for a, b in zip(g, e)):
                bad = (i, g, e)
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]}\n  got {bad[1]}\n  exp {bad[2]}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(gr)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
