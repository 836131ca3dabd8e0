"""Deterministic generator for the benchmark's input tables.

Writes the engine's TPC-H-ish star schema plus the ``events``,
``documents`` and ``embeddings`` tables, one single-row-group Parquet
file each, with the column names, physical types and value domains the
registered queries read (see TESTDATA.md / FIXTURES.md at the repo
root). Every column is drawn independently and uniformly, like the
fixture data the engine was developed against; the only planted
structure is a 5% share of near-duplicate documents (a copy of another
document with `` dup`` appended) for the dedup operators, and a weak
per-label cluster signal in the unit-norm embeddings.

    python3 perfbench/datagen.py OUT_DIR [--sf 0.1] [--seed 42]

The same ``(sf, seed)`` always yields byte-identical files.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

ORDER_DAY0 = np.datetime64("1995-01-01", "us")
SHIP_DAY0 = np.datetime64("1995-01-02", "us")
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, day0: np.datetime64, span: int, n: int) -> pa.Array:
    ts = day0 + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )
    return pa.array(ts, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(
        pa.string()
    )


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; sizes scale with ``sf`` like the
    fixture data (6M lineitem rows per unit sf)."""
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 1)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 1)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)
    rngs = dict(
        zip(TABLES, (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(TABLES))))
    )
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = rngs["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": _ids(n_cust),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(r, SEGMENTS, n_cust),
        }
    )

    r = rngs["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": _ids(n_supp),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = rngs["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _pick(r, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": _pick(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )

    r = rngs["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": _ids(n_orders),
            "o_custkey": pa.array(r.integers(0, n_cust, n_orders)),
            "o_orderstatus": _pick(r, ORDER_STATUS, n_orders),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _days(r, ORDER_DAY0, 2404, n_orders),
            "o_orderpriority": _pick(r, PRIORITIES, n_orders),
        }
    )

    r = rngs["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_orders, n_line)),
            "l_partkey": pa.array(r.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(r, ["F", "O"], n_line),
            "l_shipdate": _days(r, SHIP_DAY0, 2498, n_line),
        }
    )

    r = rngs["events"]
    # Uniform arrivals over 30 days, strictly increasing with event_id.
    offs = np.sort(r.integers(0, 30 * DAY_US - n_events, n_events)) + np.arange(n_events)
    out["events"] = pa.table(
        {
            "event_id": _ids(n_events),
            "ts": pa.array(EVENT_T0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, n_events)),
            "event_type": _pick(r, EVENT_TYPES, n_events),
            "value": np.round(r.exponential(50.0, n_events), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]),
        }
    )

    r = rngs["documents"]
    texts = [
        " ".join(WORDS[w] for w in r.integers(0, len(WORDS), int(n)))
        for n in r.integers(10, 101, n_docs)
    ]
    dups = r.choice(n_docs, n_docs // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(r.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": _ids(n_docs),
            "text": texts,
            "lang": _pick(r, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r = rngs["embeddings"]
    labels = r.integers(0, N_LABELS, n_vecs)
    centers = r.standard_normal((N_LABELS, EMBED_DIM))
    x = r.standard_normal((n_vecs, EMBED_DIM)) + 0.5 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": _ids(n_vecs),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_dataset(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1),
        )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    t0 = dt.datetime.now()
    write_dataset(args.out_dir, args.sf, args.seed)
    print(f"wrote sf{args.sf} to {args.out_dir} in {dt.datetime.now() - t0}")


if __name__ == "__main__":
    main()
