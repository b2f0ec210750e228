"""Seeded inputs for the benchmark workloads.

The inputs are derived from the repository's reference test data at
scale factor 0.01: ``data/sf0.01/`` holds unmodified copies of its
``lineitem``, ``orders``, ``part``, ``documents`` and ``embeddings``
tables. The seed picks a sample of them. Everything here is
numpy/pyarrow/pandas: inputs are built before any Spark session
starts, so their cost never lands in a measured figure. The same seed
gives byte-identical files.

* ``write_corpus`` writes a seeded sample of the documents and
  embeddings, the tables the curation queries read.
* ``write_retail`` writes the reference ETL's raw sources: a sales CSV
  (a sample of lineitem joined to orders and part, dates folded into
  one calendar year, a fixed share of malformed rows), a JSON-lines
  product catalog, and a seeded incremental change set.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# Reference retail sales domains (FIXTURES.md section 1).
RETAIL_CATEGORIES = ["Beauty", "Clothing", "Electronics"]
RETAIL_PRICES = [25.0, 30.0, 50.0, 300.0, 500.0]
API_CATEGORIES = ["electronics", "jewelery", "men's clothing", "women's clothing"]
RETAIL_YEAR = 2023

# Shares of the sales CSV's rows made malformed, by kind, and the size
# of the incremental change set. Each malformed row carries one defect.
MALFORMED = {"bad_date": 0.01, "zero_quantity": 0.01, "wrong_total": 0.02, "bad_age": 0.01}
CHANGE_SET = {"changed_customers": 0.05, "new_customers": 0.02, "repriced_products": 0.10}

_EPOCH = np.datetime64("1970-01-01", "D")


def read_table(name: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet")).to_pandas()


def _sample(df: pd.DataFrame, rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` seeded rows, in their original order."""
    return df.iloc[np.sort(rng.choice(len(df), n, replace=False))].reset_index(drop=True)


def write_corpus(out_dir: str, seed: int, n_docs: int) -> None:
    """``documents.parquet`` and ``embeddings.parquet``: ``n_docs``
    seeded rows of each."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    for name in ("documents", "embeddings"):
        table = pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))
        rows = np.sort(rng.choice(table.num_rows, n_docs, replace=False))
        pq.write_table(table.take(rows).replace_schema_metadata(None), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Retail ETL sources
# ---------------------------------------------------------------------------
def _sales_frame(rng: np.random.Generator, n_rows: int, span_days: int) -> pd.DataFrame:
    """A sample of lineitem ⋈ orders ⋈ part reshaped into the
    reference's sales CSV: order dates folded into the first
    ``span_days`` days of one calendar year, customers with a stable
    gender and age."""
    li = _sample(read_table("lineitem"), rng, n_rows)
    o = read_table("orders").set_index("o_orderkey").loc[li["l_orderkey"]].reset_index(drop=True)
    part = read_table("part").set_index("p_partkey").loc[li["l_partkey"]].reset_index(drop=True)
    cust = o["o_custkey"].to_numpy()
    gender = np.array(["Male", "Female"])[rng.integers(0, 2, cust.max() + 1)]
    age = rng.integers(18, 65, cust.max() + 1)
    day = ((o["o_orderdate"].to_numpy().astype("datetime64[D]") - _EPOCH).astype(np.int64)) % span_days
    date = np.datetime64(f"{RETAIL_YEAR}-01-01", "D") + day.astype("timedelta64[D]")
    qty = 1 + (li["l_quantity"].to_numpy().astype(np.int64) - 1) % 4
    price = np.array(RETAIL_PRICES)[part["p_size"].to_numpy() % 5]
    return pd.DataFrame({
        "Transaction ID": np.arange(1, n_rows + 1, dtype=np.int64),
        "Date": np.datetime_as_string(date, unit="D"),
        "Customer ID": [f"CUST{c:05d}" for c in cust],
        "Gender": gender[cust],
        "Age": age[cust],
        "Product Category": np.array(RETAIL_CATEGORIES)[li["l_partkey"].to_numpy() % 3],
        "Quantity": qty,
        "Price per Unit": price,
        "Total Amount": qty * price,
    })


def _corrupt(df: pd.DataFrame, rng: np.random.Generator) -> dict[str, list[int]]:
    """Give disjoint seeded row sets one defect each (shares in
    MALFORMED); also restyle some gender strings, which cleaning
    normalizes back. Returns the corrupted Transaction IDs per kind."""
    n = len(df)
    order = rng.permutation(n)
    picked: dict[str, list[int]] = {}
    at = 0
    for kind, share in MALFORMED.items():
        k = int(round(share * n))
        rows = np.sort(order[at:at + k])
        at += k
        picked[kind] = df["Transaction ID"].to_numpy()[rows].tolist()
        if kind == "bad_date":
            df.loc[rows, "Date"] = np.where(rows % 2 == 0, "not-a-date", f"{RETAIL_YEAR}-13-45")
        elif kind == "zero_quantity":
            df.loc[rows, "Quantity"] = np.where(rows % 2 == 0, 0, -1)
        elif kind == "wrong_total":
            df.loc[rows, "Total Amount"] = df.loc[rows, "Total Amount"] + 7.0
        elif kind == "bad_age":
            df.loc[rows, "Age"] = np.where(rows % 2 == 0, 7, 140)
    styled = order[at:at + int(0.02 * n)]
    df.loc[styled, "Gender"] = " " + df.loc[styled, "Gender"].str.lower() + " "
    return picked


def _products(rng: np.random.Generator, n: int) -> list[dict]:
    """The product API's records for ``n`` seeded parts."""
    part = _sample(read_table("part"), rng, n)
    out = []
    for i, r in enumerate(part.itertuples()):
        desc_len = int(rng.integers(20, 700))
        out.append({
            "id": i + 1,
            "title": (" " if i % 7 == 0 else "") + f"{r.p_name} {r.p_brand}",
            "price": round(float(r.p_retailprice) / 10.0, 2),
            "description": ("lorem ipsum " * 60)[:desc_len],
            "category": API_CATEGORIES[i % 4],
            "image": f"https://example.invalid/img/{i + 1}.jpg",
            "rating": {
                "rate": round(float(rng.uniform(-0.5, 5.5)), 1),
                "count": int(rng.integers(-5, 600)),
            },
        })
    return out


def _write_jsonl(path: str, records: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for rec in records:
            f.write(json.dumps(rec, sort_keys=True) + "\n")


def write_retail(out_dir: str, seed: int, n_rows: int, n_products: int, span_days: int) -> dict:
    """Write ``sales.csv`` + ``products.json`` (full load) and
    ``sales_incr.csv`` + ``products_incr.json`` (the change set).
    Returns the change-set description the checks compare against."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    sales = _sales_frame(rng, n_rows, span_days)
    clean = sales.copy()
    malformed = _corrupt(sales, rng)
    sales.to_csv(os.path.join(out_dir, "sales.csv"), index=False)
    products = _products(rng, n_products)
    _write_jsonl(os.path.join(out_dir, "products.json"), products)

    # change set: every transaction of a changed customer arrives again
    # under a new id with the other gender and age+1; new customers
    # bring transactions of their own; some products are repriced.
    custs = np.unique(clean["Customer ID"])
    n_changed = int(round(CHANGE_SET["changed_customers"] * len(custs)))
    changed = np.sort(rng.choice(custs, n_changed, replace=False))
    incr = clean[clean["Customer ID"].isin(changed)].copy()
    incr["Gender"] = np.where(incr["Gender"] == "Male", "Female", "Male")
    incr["Age"] = incr["Age"] + 1
    n_new = int(round(CHANGE_SET["new_customers"] * len(custs)))
    fresh = clean.iloc[rng.choice(len(clean), n_new, replace=False)].copy()
    fresh["Customer ID"] = [f"NEW{i:05d}" for i in range(n_new)]
    incr = pd.concat([incr, fresh], ignore_index=True)
    incr["Transaction ID"] = np.arange(n_rows + 1, n_rows + 1 + len(incr), dtype=np.int64)
    incr.to_csv(os.path.join(out_dir, "sales_incr.csv"), index=False)
    n_repriced = int(round(CHANGE_SET["repriced_products"] * n_products))
    repriced = sorted(int(i) for i in rng.choice(np.arange(1, n_products + 1), n_repriced, replace=False))
    for p in products:
        if p["id"] in repriced:
            p["price"] = round(p["price"] + 1.25, 2)
    _write_jsonl(os.path.join(out_dir, "products_incr.json"), products)
    return {
        "changed_customers": changed.tolist(),
        "new_customers": n_new,
        "repriced_products": repriced,
        "malformed": {k: len(v) for k, v in malformed.items()},
        "n_products": n_products,
    }
