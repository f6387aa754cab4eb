#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
against DuckDB oracles. Usage: check_verify.py <sfDir> <outDir>"""
import sys, os, json, glob
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]

# Vacuous-green allowlist (r9s4 lesson: gr3/d4/sk5/st6 were EMPTY on both
# sides — threshold/parameter choices that produce nothing still
# hash-match). Add a query name here ONLY when empty is its intended
# steady-state answer.
EMPTY_OK = set()
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails, okc, skip = [], 0, 0

# Registered-vs-produced check (r8 lesson: 3 queries broke at analysis and
# the correctness report silently shrank). Every registered query — oracle'd
# or rows-only — must have an output dir with at least one parquet part.
manifest_path = f"{outdir}/manifest.json"
if os.path.exists(manifest_path):
    manifest = json.load(open(manifest_path))
    registered = manifest.get("registered", [])
    produced = [n for n in registered
                if glob.glob(f"{outdir}/{n}/*.parquet")]
    print(f"registered {len(registered)}, produced {len(produced)}")
    # a run that registered nothing checked nothing: it must not read green
    if not registered:
        fails.append(("manifest", "no query registered"))
    for n in registered:
        if n not in produced:
            why = manifest.get("failed", {}).get(n, "no output dir")
            fails.append((n, f"MISSING OUTPUT: {why}"))
    # a manifest-recorded failure fails the gate even if stale parquet from
    # a previous run survives in the reused outDir (Verify also deletes the
    # dir on failure; this is the belt to that suspender)
    for n, why in manifest.get("failed", {}).items():
        if n in produced:
            fails.append((n, f"FAILED IN VERIFY (stale output present): {why}"))
    for n in registered:
        if n not in oracle and glob.glob(f"{outdir}/{n}/*.parquet"):
            # rows-only query: weaker driver check — require >0 rows here
            nrows = con.sql(f"SELECT count(*) FROM '{outdir}/{n}/*.parquet'").fetchone()[0]
            if nrows == 0:
                fails.append((n, "rows-only query produced 0 rows"))
            else:
                okc += 1
else:
    print("WARNING: no manifest.json — registered-vs-produced check skipped")
for name in sorted(oracle):
    sql = oracle[name]
    spark_path = f"{outdir}/{name}"
    files = glob.glob(f"{spark_path}/*.parquet")
    if not files:
        fails.append((name, "no spark output")); continue
    try:
        got_rel = con.sql(f"SELECT * FROM '{spark_path}/*.parquet'")
        exp_rel = con.sql(sql)
        # Column TYPE FAMILIES must match before values: the driver's
        # hasher coerces integer widths identically (INTEGER vs BIGINT is
        # fine — 12 driver-green queries differ only in width), but
        # HUGEINT/DECIMAL take a different pandas encoding than BIGINT
        # and change the hashed values — r7 shipped 2 red queries because
        # this gate compared values only with coercing pandas ==.
        def family(t):
            t = str(t).upper()
            if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                     "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
                return "int"
            if t in ("FLOAT", "DOUBLE"):
                return "float"
            if t.startswith("DECIMAL"):
                return "decimal"
            return t  # HUGEINT, VARCHAR, BOOLEAN, DATE, TIMESTAMP*, ...
        gtypes = dict(zip(got_rel.columns, [family(t) for t in got_rel.types]))
        etypes = dict(zip(exp_rel.columns, [family(t) for t in exp_rel.types]))
        got, exp = got_rel.df(), exp_rel.df()
    except Exception as e:
        fails.append((name, f"query error: {e}")); continue
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        fails.append((name, f"schema mismatch: spark={gcols} oracle={ecols}")); continue
    tbad = [f"{c}: spark={gtypes[c]} oracle={etypes[c]}"
            for c in gcols if gtypes[c] != etypes[c]]
    if tbad:
        fails.append((name, "dtype mismatch: " + "; ".join(tbad))); continue
    g = got[gcols].sort_values(gcols, kind="mergesort").reset_index(drop=True)
    e = exp[ecols].sort_values(ecols, kind="mergesort").reset_index(drop=True)
    if len(g) != len(e):
        fails.append((name, f"row count: spark={len(g)} oracle={len(e)}")); continue
    # Vacuous-green guard — see EMPTY_OK at the top of this file.
    if len(g) == 0 and name not in EMPTY_OK:
        fails.append((name, "VACUOUS: both sides empty — retune the query "
                      "or allowlist it in EMPTY_OK")); continue
    bad = None
    for c in gcols:
        gv, ev = g[c], e[c]
        try:
            import pandas as pd
            eq = (gv.isna() & ev.isna()) | (gv == ev)
            if not eq.all():
                i = (~eq).idxmax()
                bad = f"col {c} row {i}: spark={gv[i]!r} oracle={ev[i]!r}"
                break
        except Exception as ex:
            bad = f"col {c} compare error: {ex}"; break
    if bad: fails.append((name, bad))
    else: okc += 1

for name, msg in fails:
    print(f"FAIL {name}: {msg}")
print(f"\n{okc} ok, {len(fails)} failed, {skip} skipped (of {len(oracle)})")
sys.exit(1 if fails else 0)
