#!/usr/bin/env python3
"""Self-check: compare Verify's per-query parquet output against the DuckDB
oracle (same shape of check the driver runs). Usage:
  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_verify"
  python3 scripts/selfcheck.py /tmp/graft_verify /root/testdata/sf0.01
Driver-side python only."""
import json
import sys

import duckdb


def norm(rows, cols):
    # sort columns by name (driver semantics), normalize value types
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and v.is_integer():
                v = int(v)
            vals.append(v)
        out.append(tuple(vals))
    return out


def type_drift(got_types, exp_types):
    """Column-TYPE comparison via DESCRIBE type names — the driver's typed
    row hash diverges on type drift even when Python values compare equal
    (round-3 root cause: an uncast SUM(BIGINT) promoted to HUGEINT in
    DuckDB vs LONG in Spark passed the old value-only check but failed the
    driver hash). Inputs: {column: duckdb_type_name}. Returns a list of
    "col: got vs exp" mismatch strings. Widths within the same family are
    driver-equivalent (parquet INT32 vs DuckDB BIGINT both hash as ints),
    so only family-level drift flags: int vs decimal/hugeint, int vs
    float, number vs string."""
    def family(t):
        t = t.upper()
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                 "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
            return "int"
        if t == "HUGEINT" or t.startswith("DECIMAL"):
            return "decimal"
        if t in ("FLOAT", "REAL", "DOUBLE"):
            return "float"
        return t
    g = {c: family(t) for c, t in got_types.items()}
    e = {c: family(t) for c, t in exp_types.items()}
    return [f"{c}: {g[c]} vs {e[c]}" for c in sorted(set(g) & set(e)) if g[c] != e[c]]


def main(outdir, sfdir):
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    # this VM's duckdb sometimes mis-detects available memory right after
    # a big JVM exits and refuses 4 KB allocations; pin an explicit limit
    con.execute("SET memory_limit='24GB'")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    ok = fail = 0
    import glob
    names = sorted(x.split('/')[-1] for x in glob.glob(f"{outdir}/*") if not x.endswith('.json'))
    # Verify writes no directory for a query that threw: its oracle key is
    # the only trace left, so it counts as a failure
    for name in sorted(set(oracle) - set(names)):
        print(f"FAIL {name}: no output")
        fail += 1
    for name in names:
        got = con.execute(f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(grows)} rows, cols={gcols}")
            continue
        exp = con.execute(oracle[name])
        ecols = [d[0] for d in exp.description]
        erows = exp.fetchall()
        if sorted(gcols) != sorted(ecols):
            print(f"FAIL {name}: columns {sorted(gcols)} != {sorted(ecols)}")
            fail += 1
            continue
        # column types via DESCRIBE — plans the query without EXECUTING it
        # (round-4 review: re-running every oracle for .arrow() doubled the
        # cost of the expensive recursive-CTE/minhash oracles)
        drift = type_drift(
            {r[0]: r[1] for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')"
            ).fetchall()},
            {r[0]: r[1] for r in con.execute(f"DESCRIBE {oracle[name]}").fetchall()})
        if drift:
            print(f"FAIL {name}: column type drift (driver hash would diverge): "
                  + "; ".join(drift))
            fail += 1
            continue
        g = norm(grows, gcols)
        e = norm(erows, ecols)
        if g == e:
            print(f"  OK {name}: {len(g)} rows")
            ok += 1
        else:
            fail += 1
            print(f"FAIL {name}: {len(g)} vs {len(e)} rows")
            sg, se = set(g), set(e)
            for x in list(sg - se)[:3]:
                print(f"    spark-only: {x}")
            for x in list(se - sg)[:3]:
                print(f"    oracle-only: {x}")
            for i, (a, b) in enumerate(zip(g, e)):
                if a != b:
                    print(f"    first diff at row {i}: {a} vs {b}")
                    break
    print(f"\n{ok} ok, {fail} fail, {len(set(names) - set(oracle))} rows-only")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
