"""Output checks, run after the measured window.

* Query mixes: each query's result (written as parquet during the
  measured-scale warm-up) must equal its DuckDB oracle SQL from
  ``SparkEntry.oracleSql`` over the same generated tables. Comparison rule:
  columns sorted by name, rows sorted by all columns, exact equality, with
  integer-vs-float and numeric-vs-text dtype mismatches counted as failures.
* Statement ingest: the statements table holds history plus every valid
  row of the committed files, the report holds one row per ingested
  user-month with the planted foreign rows flagged, and the quarantine holds
  exactly the planted malformed rows.
"""
import glob

import duckdb
import numpy as np
import pandas as pd

from gen import TABLES


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_df, duck_df):
    """None when equal under the comparison rule, else the first difference."""
    s, d = _norm(spark_df), _norm(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in s.columns:
        si, sf = np.issubdtype(s[c].dtype, np.integer), np.issubdtype(s[c].dtype, np.floating)
        di, df_ = np.issubdtype(d[c].dtype, np.integer), np.issubdtype(d[c].dtype, np.floating)
        if (si and df_) or (sf and di):
            return f"col {c} dtype spark={s[c].dtype} duck={d[c].dtype}"
        if ((si or sf) and d[c].dtype == object) or ((di or df_) and s[c].dtype == object):
            return f"col {c} dtype spark={s[c].dtype} duck={d[c].dtype} (numeric vs object)"
    for c in s.columns:
        if np.issubdtype(s[c].dtype, np.floating) or np.issubdtype(d[c].dtype, np.floating):
            a = pd.to_numeric(s[c], errors="coerce").values.astype(float)
            b = pd.to_numeric(d[c], errors="coerce").values.astype(float)
            eq = (a == b) | (np.isnan(a) & np.isnan(b))
        else:
            eq = s[c].astype(str).values == d[c].astype(str).values
        if not eq.all():
            i = int(np.argmin(eq))
            return f"col {c} row {i}: spark={s[c].values[i]!r} duck={d[c].values[i]!r}"
    return None


def check_mix(tables, outputs, oracle):
    """[(query, problem)] for every query whose output differs from its oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    bad = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{outputs}/{name}/*.parquet"))
        try:
            sdf = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            if sdf is None:
                bad.append((name, "no output"))
                continue
            problem = compare(sdf, con.execute(sql).df())
        except Exception as e:  # an oracle or read error is a failed check
            problem = f"{type(e).__name__}: {e}"
        if problem:
            bad.append((name, problem))
    return bad


def check_ingest(manifest, committed, table, reports, quarantine):
    """[(check, problem)] for the statement-ingest outputs.

    ``committed`` names the drop files the stream committed."""
    files = {f"{i:05d}.csv": f for i, f in enumerate(manifest["files"])}
    done = [files[n] for n in committed]
    want = {
        "table_rows": manifest["history_rows"] + sum(f["valid"] for f in done),
        "report_rows": sum(1 for f in done if f["valid"] > 0),
        "flagged_rows": sum(f["foreign_valid"] for f in done),
        "quarantined_rows": sum(f["malformed"] for f in done),
    }
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchone()[0] or 0
    got = {
        "table_rows": q(f"SELECT sum(len(transactions)) FROM read_parquet('{table}/*/*.parquet')"),
        "report_rows": q(f"SELECT count(*) FROM read_json_auto('{reports}/*/*.json')"),
        "flagged_rows": q(f"SELECT sum(len(flagged_transactions)) "
                          f"FROM read_json_auto('{reports}/*/*.json')"),
        "quarantined_rows": (q(f"SELECT count(*) FROM read_parquet('{quarantine}/*/*.parquet')")
                             if glob.glob(f"{quarantine}/*/*.parquet") else 0),
    }
    months = {(f["user"], f["yearMonth"]) for f in done if f["valid"] > 0}
    got_months = set(con.execute(
        f"SELECT CAST(userId AS VARCHAR), CAST(yearMonth AS VARCHAR) "
        f"FROM read_json_auto('{reports}/*/*.json')").fetchall())
    bad = [(k, f"got {got[k]} want {want[k]}") for k in want if got[k] != want[k]]
    if got_months != months:
        bad.append(("report_user_months", f"{len(got_months ^ months)} differ"))
    return bad
