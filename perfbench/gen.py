"""Seeded input generator for the benchmark.

Writes the star-schema tables the engine's query functions read (same
column names and parquet types as the engine's fixture loader accepts),
plus the permit_chain inputs: Socrata-shaped permit batches as JSON Lines
and a PIN-universe CSV, derived from orders x customer with the same
expressions as the engine's `PipelineQ.rawPermits`.

Everything is a pure function of (seed, sf): the same arguments give
byte-identical files.
"""
import os

import numpy as np
import pandas as pd

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def _write(df, path):
    df.to_parquet(path, index=False)


def customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def orders(rng, n, n_cust):
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": (np.datetime64("1995-01-01") + days.astype("timedelta64[D]"))
        .astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:  # planted near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 101)))
            texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def events(rng, n, n_users):
    span_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def tables(out, seed, sf, names):
    """Write the named fixture tables for scale factor `sf` under `out`."""
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    make = {
        "customer": lambda: customer(np.random.default_rng([seed, 1]), n_cust),
        "orders": lambda: orders(np.random.default_rng([seed, 2]), int(1_500_000 * sf), n_cust),
        "documents": lambda: documents(np.random.default_rng([seed, 3]), int(50_000 * sf)),
        "embeddings": lambda: embeddings(np.random.default_rng([seed, 4]), max(500, int(20_000 * sf))),
        "events": lambda: events(np.random.default_rng([seed, 5]), int(1_000_000 * sf),
                                 max(150, int(15_000 * sf))),
    }
    for name in names:
        _write(make[name](), os.path.join(out, f"{name}.parquet"))


def raw_permits(orders_df, customer_df):
    """Column-for-column twin of PipelineQ.rawPermits (orders x customer)."""
    ok = orders_df["o_orderkey"].to_numpy()
    ck = orders_df["o_custkey"].to_numpy()
    name = customer_df.set_index("c_custkey")["c_name"].reindex(ck).to_numpy(dtype=object)
    pin14 = pd.Series(ck).astype(str).str.zfill(14).str[:14]
    hyph = (pin14.str[0:2] + "-" + pin14.str[2:4] + "-" + pin14.str[4:7] + "-"
            + pin14.str[7:10] + "-" + pin14.str[10:14])
    pins = np.where(ok % 13 == 0, pd.Series(ck + 900000).astype(str).str.zfill(14).str[:14],
                    np.where(ok % 3 == 0, pin14 + " | " + hyph, pin14)).astype(object)
    pins[ok % 50 == 0] = None
    dates = pd.Series(orders_df["o_orderdate"]).dt.strftime("%Y-%m-%dT%H:%M:%S.000000")
    return pd.DataFrame({
        "permit_": np.where(ok % 23 == 0, "", ok.astype(str)),
        "issue_date": np.where(ok % 41 == 0, "not-a-date", dates),
        "street_number": "ADDR",
        "street_name": name,
        "work_description": np.where(ok % 37 == 0, "D" * 2001,
                                     "New garage near " + orders_df["o_orderpriority"]),
        "reported_cost": np.where(ok % 11 == 0, "-5",
                                  np.floor(orders_df["o_totalprice"]).astype(np.int64).astype(str)),
        "contact_1_name": np.where(ok % 31 == 0, name + "A" * 50, name + " BUILDING COMPANY"),
        "pin_list": pins,
    })


def permit_batches(out, seed, sf, n_batches):
    """Fixture tables plus `n_batches` JSON Lines permit batches.

    The seed shuffles orders into batches; batch k's orders also go to
    `batch_k/orders.parquet` so the DuckDB twin of the chain can be
    restricted to exactly that batch.
    """
    tables(out, seed, sf, ["customer", "orders"])
    cust = pd.read_parquet(os.path.join(out, "customer.parquet"))
    ords = pd.read_parquet(os.path.join(out, "orders.parquet"))
    assign = np.random.default_rng([seed, 6]).integers(0, n_batches, len(ords))
    uni = pd.DataFrame({"pin": [str(k).rjust(14, "0") for k in cust["c_custkey"]]})
    uni["pin10"] = uni["pin"].str[:10]
    uni["prop_address_full"] = "ADDR  " + cust["c_name"]
    uni.to_csv(os.path.join(out, "universe.csv"), index=False)
    batches = []
    for b in range(n_batches):
        part = ords[assign == b].reset_index(drop=True)
        d = os.path.join(out, f"batch_{b}")
        os.makedirs(d, exist_ok=True)
        _write(part, os.path.join(d, "orders.parquet"))
        path = os.path.join(d, "permits.json")
        raw_permits(part, cust).to_json(path, orient="records", lines=True)
        batches.append({"json": path, "permits": len(part), "dir": d,
                        "bytes": os.path.getsize(path)})
    return {"universe": os.path.join(out, "universe.csv"),
            "universe_bytes": os.path.getsize(os.path.join(out, "universe.csv")),
            "batches": batches}
