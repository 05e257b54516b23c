"""query_mix inputs and output check.

`generate` writes seeded tables with the testdata schema (a TPC-H-like star
plus `events`, `documents` and `embeddings`, one parquet file each, at the
size of the smallest testdata scale). `check` replays each query's DuckDB
oracle SQL over those tables and compares it with the Spark output the run
wrote, under the same rules as the repository's correctness harness:
columns sorted by name, rows sorted by every column, values compared
exactly.
"""
import json
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("a the data row column table key value query join filter group sort "
         "merge agg hash scan window stream batch spark part line order customer "
         "small big fast slow vector").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def generate(out: Path, seed: int) -> dict:
    """Write the ten tables under `out`; returns their row counts."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc, n_emb = (
        150, 10, 200, 1500, 6000, 1000, 500, 500)
    us = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "red", "blue", "new", "old", "hot", "cold", "large"]
    noun = ["ring", "widget", "bolt", "gear", "rod", "anvil"]
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})

    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})

    lok = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[lok] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    linenum = np.zeros(n_li, dtype=np.int32)
    seen = {}
    for i, k in enumerate(lok):
        seen[k] = seen.get(k, 0) + 1
        linenum[i] = seen[k]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), us)})

    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us") +
                 rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, us),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(60, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
            "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str:
    s, o = _normalize(spark_df), _normalize(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"columns differ: {list(s.columns)} vs oracle {list(o.columns)}"
    if len(s) != len(o):
        return f"{len(s)} rows vs oracle {len(o)}"
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            return f"column {c}: dtype {s[c].dtype} vs oracle {o[c].dtype}"
        if s[c].dtype == "float64":
            a, b = s[c].to_numpy(), o[c].to_numpy()
            bad = ~((pd.isna(a) & pd.isna(b)) | (a == b))
        else:
            a = s[c].map(lambda x: None if pd.isna(x) else str(x))
            b = o[c].map(lambda x: None if pd.isna(x) else str(x))
            bad = ~(a.eq(b) | (a.isna() & b.isna())).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return f"column {c}: {int(bad.sum())} mismatches, first spark={a[i]!r} oracle={b[i]!r}"
    return ""


def check(tables: Path, outputs: Path) -> dict:
    """Compare every query output under `outputs` with its oracle; returns
    {query: reason} for each mismatch."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    oracle = json.loads((outputs / "oracle_sql.json").read_text())
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(outputs / name)
            why = _compare(got, con.execute(sql).df())
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            bad[name] = why
    return bad
