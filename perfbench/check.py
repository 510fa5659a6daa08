"""Answer checks for the query workloads, made after the timed run.

A query's answer from the first timed pass is compared with its DuckDB
twin (`SparkEntry.oracleSql`) the way tools/check.py compares them: columns
sorted by name, rows sorted, values compared as strings. Every other pass
of the run, set-up passes included, must give the same row fingerprint.
A query without a twin must return rows. Each wrong timed answer is one
message in the returned list.
"""
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def diff(got: pd.DataFrame, want: pd.DataFrame):
    """None when the two answers agree, else what differs."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    bad = [c for c in got.columns
           if not (got[c].astype(str) == want[c].astype(str)).all()]
    return f"values differ in {bad}" if bad else None


def query_answers(res: dict, data_dir: str, threads: int = 2) -> list:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    units = res["units"]
    wrong = []
    for name, q in sorted(res["queries"].items()):
        prints = q["fingerprints"]
        timed = prints[-units:] if len(prints) >= units else []
        if not timed:
            continue  # failed in the JVM, counted there
        if len(set(prints)) > 1:
            wrong += [f"{name}: answers differ across passes"] * sum(
                p != prints[0] for p in timed)
            continue
        if q["oracle"] is None:
            if q["rows"] <= 0:
                wrong += [f"{name}: no rows"] * len(timed)
            continue
        try:
            got = pd.read_parquet(os.path.join(res["answers"], name))
            why = diff(got, con.execute(q["oracle"]).df())
        except Exception as e:  # an unreadable answer is a wrong one
            why = f"{type(e).__name__}: {e}"
        if why:
            wrong += [f"{name}: {why}"] * len(timed)
    return wrong
