"""Output check for the ops workloads: a query result written by the
harness must equal the query's DuckDB oracle (`SparkEntry.oracleSql`) over
the same generated tables, by the rule of `tools/check_verify.py`: same
column names, same column type families, same row count, no vacuous (empty
on both sides) answer, and equal values after sorting rows on every
column. A query without an oracle must return at least one row."""
import glob
import os

import duckdb

from datagen import TABLES


def _family(t):
    t = str(t).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    return t


class Oracle:
    def __init__(self, data_dir, oracle_sql):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.sql = oracle_sql
        self.expected = {}

    def _frame(self, rel):
        types = dict(zip(rel.columns, [_family(t) for t in rel.types]))
        return rel.df(), types

    def check(self, name, out_dir):
        """None when the output at out_dir is correct, else the reason."""
        if not glob.glob(os.path.join(out_dir, "*.parquet")):
            return "no output"
        got, gtypes = self._frame(self.con.sql(f"SELECT * FROM '{out_dir}/*.parquet'"))
        if name not in self.sql:
            return None if len(got) else "rows-only query produced 0 rows"
        if name not in self.expected:
            self.expected[name] = self._frame(self.con.sql(self.sql[name]))
        exp, etypes = self.expected[name]
        cols = sorted(got.columns)
        if cols != sorted(exp.columns):
            return f"schema mismatch: {cols} vs {sorted(exp.columns)}"
        bad = [c for c in cols if gtypes[c] != etypes[c]]
        if bad:
            return f"dtype mismatch: {bad}"
        if len(got) != len(exp):
            return f"row count {len(got)} vs {len(exp)}"
        if len(got) == 0:
            return "vacuous: both sides empty"
        g = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        e = exp[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        for c in cols:
            eq = (g[c].isna() & e[c].isna()) | (g[c] == e[c])
            if not eq.all():
                i = (~eq).idxmax()
                return f"col {c} row {i}: {g[c][i]!r} vs {e[c][i]!r}"
        return None
