"""Seeded input generators for the benchmark.

Every input the benchmark feeds the program is made here from the
``--seed`` argument, so the same seed gives byte-identical inputs and
the program never sees anything else:

* :func:`flat_documents` — the flat ``documents(doc_id, text, lang,
  source, n_chars)`` table the contract queries and the flagship span
  derivation read. Keyword-soup text over a 30-word vocabulary, 8 to
  100 words per doc, ~5% near-duplicates (an earlier doc's text plus
  ``" dup"``), 20 sources — the shape of the contract's test tables.
* :func:`write_contract_tables` — that table plus the TPC-H-style star
  schema, the ``events`` stream and the ``embeddings`` table the
  contract suite reads, at a given scale factor.
* :func:`hold_text_size` — picks docs from a pool made by the
  program's own seeded generator (``corpus.generate_docs``) so that
  every seed yields the same total text.
* :func:`write_spans_documents` — writes that span-shaped corpus.

Only numpy, pandas and pyarrow run here: no Spark, so generation cost
is the same whatever the program under test does.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data query table row column key value join hash sort merge "
    "filter scan agg group order window stream batch vector part line "
    "customer spark fast slow big small"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def flat_documents(n_docs: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 101, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    # near-duplicates: copy an earlier doc's text and tag it
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_flat_documents(path: str, n_docs: int, seed: int) -> None:
    _write(flat_documents(n_docs, seed), path)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def write_contract_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """All ten contract tables at scale factor ``sf``; returns row
    counts by table name."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    n_orders = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_cust = max(15, int(150_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32 = np.int32
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(["small", "large", "red", "blue", "hot", "cold", "old", "new"], n_part),
                    rng.choice(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"], n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": money(1000, 500000, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
            ),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-01", 2499, n_line),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_events),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }),
    }
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb_schema = pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ])
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vecs).astype(i32),
    })
    tables["documents"] = flat_documents(n_docs, seed)
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"),
               emb_schema if name == "embeddings" else None)
    return {name: len(df) for name, df in tables.items()}


def doc_chars(doc: dict) -> int:
    return sum(len(s["text"] or "") for s in doc["spans"])


def hold_text_size(pool: list[dict], n: int, target_chars: int, seed: int,
                   tol: float = 0.002) -> list[dict]:
    """``n`` docs of ``pool`` whose text totals ``target_chars`` within
    ``tol``. Starts from the first ``n`` and, in a seeded order, swaps
    one chosen doc for one left-over doc whenever that brings the total
    closer. The generator's per-doc span count is heavy-tailed, so the
    first ``n`` docs of different seeds differ by up to ±5% in text;
    held to one total, every seed feeds the rules the same amount of
    work, and only a few dozen docs are swapped."""
    rng = random.Random(seed)
    chosen, rest = list(pool[:n]), list(pool[n:])
    size = [doc_chars(d) for d in chosen]
    rest_size = [doc_chars(d) for d in rest]
    total = sum(size)
    for _ in range(50 * n):
        if abs(total - target_chars) <= tol * target_chars or not rest:
            break
        i, j = rng.randrange(n), rng.randrange(len(rest))
        delta = rest_size[j] - size[i]
        if abs(total + delta - target_chars) < abs(total - target_chars):
            chosen[i], rest[j] = rest[j], chosen[i]
            size[i], rest_size[j] = rest_size[j], size[i]
            total += delta
    return sorted(chosen, key=lambda d: d["doc_id"])


def write_spans_documents(path: str, docs: list[dict]) -> None:
    span = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    pq.write_table(pa.Table.from_pylist(docs, schema=schema), path)
