"""Checks the `queries` workload's results against each query's oracle SQL
in DuckDB, over the same parquet tables.

The compare follows the repository's correctness gate (tools/localverify.py):
column types must agree (integer widths count as one family), columns are
sorted by name, rows by every column, and values must be equal exactly.
"""
import json
from pathlib import Path

INT_FAMILY = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def _types(rel):
    return sorted(zip(rel.columns, ("INT" if str(t) in INT_FAMILY else str(t) for t in rel.types)))


def check(data_dir, check_dir, names):
    """Return {query: fault}, where fault is "" for a match. Raises if DuckDB
    cannot run at all, so a check that did not run never reads as a pass."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for f in sorted(Path(data_dir).glob("*.parquet")):
        con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    oracles = json.loads((Path(check_dir) / "oracle_sql.json").read_text(encoding="utf-8"))
    faults = {}
    for q in names:
        out = Path(check_dir) / q
        if q not in oracles:
            faults[q] = "no oracle SQL: check not run"
            continue
        if not any(out.glob("*.parquet")):
            faults[q] = "no result written"
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{out}/*.parquet'")
            want_rel = con.sql(oracles[q])
            if _types(got_rel) != _types(want_rel):
                faults[q] = f"types {_types(got_rel)} != {_types(want_rel)}"
                continue
            got, want = _canon(got_rel.df()), _canon(want_rel.df())
            if len(got) != len(want):
                faults[q] = f"{len(got)} rows, oracle has {len(want)}"
                continue
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            faults[q] = ""
        except AssertionError as e:
            faults[q] = "values differ: " + str(e)[:300]
        except Exception as e:  # an oracle or read error is a failed check
            faults[q] = f"{type(e).__name__}: {str(e)[:300]}"
    return faults
