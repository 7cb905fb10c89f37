"""Output checks for a benchmark run: each check replays a registered
DuckDB oracle over the run's generated inputs and compares it with what
the engine wrote, by the canonicalize-and-compare rule of the repo's
correctness gate (tools/check.py): columns sorted by name, rows sorted
by all columns, exact values."""
import duckdb
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    if list(spark_df.columns) != list(duck_df.columns):
        return f"COLS spark={list(spark_df.columns)} duck={list(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"ROWS spark={len(spark_df)} duck={len(duck_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        try:
            if str(a.dtype) != str(b.dtype):
                sa = a.astype(str).where(~a.isna(), "<NA>")
                sb = b.astype(str).where(~b.isna(), "<NA>")
                if not sa.equals(sb):
                    return f"DTYPE+VAL col={c} {a.dtype}vs{b.dtype}"
                continue
            if np.issubdtype(a.dtype, np.floating):
                ga, gb = a.fillna(np.nan).values, b.fillna(np.nan).values
                if not np.array_equal(ga, gb, equal_nan=True):
                    mx = np.nanmax(np.abs(ga - gb)) if len(ga) else 0
                    return f"FLOAT col={c} maxdiff={mx}"
            elif not a.fillna("<NA>").equals(b.fillna("<NA>")):
                i = (a.fillna("<NA>") != b.fillna("<NA>")).idxmax()
                return f"VAL col={c} row{i}: spark={a[i]!r} duck={b[i]!r}"
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            return f"CMPERR col={c}: {e}"
    return "OK"


def run_checks(checks):
    """Run every check; returns [(op id, check name, verdict)] with
    verdict "OK" or the first difference found. An oracle shared by
    several checks (the same SQL over the same views) runs once."""
    cache = {}
    results = []
    for ch in checks:
        key = (ch["oracle"], tuple(sorted(ch["views"].items())))
        con = duckdb.connect()
        try:
            for name, sql in ch["views"].items():
                con.execute(f"CREATE VIEW {name} AS {sql}")
            if key not in cache:
                try:
                    cache[key] = canon(con.sql(ch["oracle"]).df())
                except Exception as e:  # noqa: BLE001 - a broken oracle fails the check
                    cache[key] = f"ORACLE ERROR: {e}"
            expected = cache[key]
            try:
                got = None if isinstance(expected, str) else con.sql(ch["output"]).df()
            except Exception as e:  # noqa: BLE001 - missing or unreadable output
                expected = f"OUTPUT ERROR: {e}"
            if isinstance(expected, str):
                results.extend((op, ch["name"], expected) for op in ch["ops"])
                continue
            if ch["columns"] == "oracle":
                got = got[[c for c in expected.columns if c in got.columns]]
            got = canon(got)
            if not ch["split"]:
                results.extend((op, ch["name"], compare(got, expected)) for op in ch["ops"])
                continue
            col = ch["split"]["column"]
            for op, lo, hi in ch["split"]["ranges"]:
                part = lambda df: df[(df[col] >= lo) & (df[col] < hi)].reset_index(drop=True)  # noqa: E731
                results.append((op, ch["name"], compare(part(got), part(expected))))
        finally:
            con.close()
    return results
