"""Output checks: the engine's outputs against DuckDB twins.

Frames are compared as canonical tables, the way the repository's
oracle gate compares them: columns sorted by name, rows sorted, then the
row count and every value compared exactly (floats numerically, the rest
as strings).
"""
import glob
import io
import os
import re
import zipfile
import xml.etree.ElementTree as ET

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = "customer orders events documents embeddings".split()


def connect(fixtures, overrides=None):
    """DuckDB connection with one view per fixture table present; a table
    in `overrides` is the UNION ALL of the listed parquet files instead."""
    con = duckdb.connect()
    for t in TABLES:
        files = (overrides or {}).get(t, [f"{fixtures}/{t}.parquet"])
        if all(os.path.exists(f) for f in files):
            body = " UNION ALL ".join(f"SELECT * FROM read_parquet('{f}')" for f in files)
            con.execute(f"CREATE VIEW {t} AS {body}")
    return con


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def _text(v):
    """A value as a string-only sink renders it; missing stays missing."""
    return None if v is None or v is pd.NA or (isinstance(v, float) and v != v) else str(v)


def same(got, want, as_text=False):
    """True when `got` equals `want` as a canonical table. With `as_text`,
    `want` is rendered to strings first (for string-only sinks)."""
    if as_text:
        want = want.apply(lambda c: c.map(_text))
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    g, w = canon(got), canon(want)
    for c in g.columns:
        a, b = g[c], w[c]
        try:
            if a.dtype.kind in "fc" or b.dtype.kind in "fc":
                ok = ((a.isna() & b.isna()) | (a == b)).all()
            else:
                ok = ((a.isna() & b.isna()) | (a.astype(str) == b.astype(str))).all()
        except Exception:
            ok = False
        if not ok:
            return False
    return True


def read_parquet_dir(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else pd.DataFrame()


def read_zip_batch(zip_path):
    """(upload frame, review-sheet frame) from one permit batch archive."""
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(zip_path) as z:
        parts = [pq.read_table(io.BytesIO(z.read(n))).to_pandas()
                 for n in sorted(z.namelist())
                 if n.startswith("upload/") and n.endswith(".parquet")]
        upload = pd.concat(parts, ignore_index=True)
        with zipfile.ZipFile(io.BytesIO(z.read("review.xlsx"))) as x:
            sheet = ET.fromstring(x.read("xl/worksheets/sheet1.xml"))
    rows = []
    for r in sheet.iter(f"{ns}row"):
        cells = {}
        for c in r.iter(f"{ns}c"):
            col = re.match(r"[A-Z]+", c.get("r")).group(0)
            t = c.find(f"{ns}is/{ns}t")
            cells[col] = (t.text or "") if t is not None else None
        rows.append(cells)
    header = rows[0]
    cols = sorted(header, key=lambda k: (len(k), k))
    review = pd.DataFrame([[r.get(k) for k in cols] for r in rows[1:]],
                          columns=[header[k] for k in cols])
    return upload, review
