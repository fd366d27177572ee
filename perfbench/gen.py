"""Seeded input generation for the benchmark workloads.

Every table is written as one parquet file per table name under a dataset
directory, with the schema the engine's readers expect
(``{dir}/{table}.parquet``).  The same seed always yields byte-identical
tables; the program under test sees only these files.

Sizes mirror the engine's sf0.1 scale, except the ``recsys_topk`` ratings
input, which is sized above the flagship's relational-join dispatch
threshold (see :func:`ratings_tables`).
"""

from __future__ import annotations

import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = ["large", "hot", "blue", "ring", "bolt", "small", "red", "nut", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

_T0 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400 * 1_000_000


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_T0 + days.astype("int64") * _DAY_US, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _strings(prefix: str, keys: np.ndarray, width: int) -> list[str]:
    return [f"{prefix}{k:0{width}d}" for k in keys.tolist()]


def _lineitem(rng, orderkeys, orderdays, n_parts, n_supp, lines_hi=8):
    """1..7 lines per order; ship date 1..120 days after the order."""
    per = rng.integers(1, lines_hi, len(orderkeys))
    ok = np.repeat(orderkeys, per)
    od = np.repeat(orderdays, per)
    n = len(ok)
    linenumber = (np.arange(n) - np.repeat(np.cumsum(per) - per, per) + 1).astype(
        "int32"
    )
    qty = rng.integers(1, 51, n).astype("float64")
    ship = od + rng.integers(1, 121, n)
    return {
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(ship),
    }


def tpch_tables(out_dir: str, seed: int) -> dict[str, int]:
    """The star schema plus ``embeddings`` at sf0.1 sizes (``interactive``).

    Returns ``{table: rows}``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_ord = 15_000, 1_000, 20_000, 150_000
    sizes = {}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust)
    _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": _strings("Customer#", ck, 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    sk = np.arange(n_supp)
    _write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": _strings("Supplier#", sk, 9),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part)
    w = np.array(P_WORDS)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                w[rng.integers(0, len(w), n_part)], w[rng.integers(0, len(w), n_part)]
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(n_ord)
    od = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(od),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    li = _lineitem(rng, ok, od, n_part, n_supp)
    _write(out_dir, "lineitem", li)
    sizes.update(customer=n_cust, supplier=n_supp, part=n_part, orders=n_ord,
                 lineitem=len(li["l_orderkey"]))
    sizes["embeddings"] = embeddings_table(out_dir, rng)
    return sizes


def embeddings_table(out_dir: str, rng, n: int = 2_000, dim: int = 64) -> int:
    """Unit vectors around 10 labelled centres (the IVF probe's input)."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), dim
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return n


# The shape of the engine's sf0.1 ``orders``/``lineitem`` tables, as measured
# on them: 150 000 orders with customer keys uniform over 15 000 customers
# (10.0 orders each on average), Poisson(4) lines per order (2 764 orders
# without lines, at most 17), part keys uniform over 20 000 parts, and
# quantities uniform over 1..50.  That gives 599 351 ratings, 40 per
# customer, and 13.1 M co-rating pair events.
SF01_ORDERS, SF01_CUSTOMERS, SF01_PARTS, SF01_LINES_PER_ORDER = 150_000, 15_000, 20_000, 4.0
ORDERKEY_OFF, CUSTKEY_OFF = 10_000_000, 1_000_000


def ratings_tables(out_dir: str, seed: int, copies: int = 3, orders: int = 130_000,
                   spread: int = 8) -> dict[str, int]:
    """``lineitem``/``orders`` for ``recsys_topk``: the flagship reads the
    ratings ``avg(l_quantity)`` per ``(o_custkey, l_partkey)``.

    ``copies`` key-shifted draws of sf0.1-shaped tables (disjoint order and
    customer key ranges, one shared part catalogue), as in
    ``tools/bench_flagship_scale.py``, each with ``orders`` of sf0.1's
    150 000 orders: about 1.56 M lineitem rows, just above the flagship's
    1.5 M-row dispatch threshold (checked against the package's constant by
    the workload), so its relational self-join arm runs at the least input
    that reaches it.  Each copy spreads its orders over ``spread`` times as
    many customers as sf0.1 has, so a customer with orders rates about 7
    items instead of 40.  Pairs within one order stay (about 1 M per copy),
    pairs across a customer's orders shrink with the spread: at the
    defaults the pair stage sees about 6.5 M pair events per query instead
    of the 39 M of three plain sf0.1 copies."""
    rng = np.random.default_rng([seed, 2])
    order_tables, lines = [], []
    for c in range(copies):
        ok = np.arange(orders) + c * ORDERKEY_OFF
        per = rng.poisson(SF01_LINES_PER_ORDER, orders)
        n = int(per.sum())
        order_tables.append(pa.table({
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, SF01_CUSTOMERS * spread, orders)
            + c * CUSTKEY_OFF,
        }))
        lines.append(pa.table({
            "l_orderkey": np.repeat(ok, per),
            "l_partkey": rng.integers(0, SF01_PARTS, n),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
        }))
    os.makedirs(out_dir, exist_ok=True)
    for name, parts in (("orders", order_tables), ("lineitem", lines)):
        pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=256_000)
    return {"orders": copies * orders, "lineitem": sum(t.num_rows for t in lines)}


def _doc_texts(rng, n: int) -> list[str]:
    w = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    toks = w[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(t) for t in np.split(toks, cuts)]


def base_corpus(n: int = 5_000, near_share: float = 0.05, exact_pairs: int = 8):
    """The fixed sf0.1-sized document corpus: word-salad texts, 5 % near
    duplicates (another document's text plus one token) and ``exact_pairs``
    exact duplicate texts.  Returns ``(texts, langs)`` in base order."""
    rng = np.random.default_rng(20_240_101)
    texts = _doc_texts(rng, n)
    near = rng.choice(n, int(n * near_share) + exact_pairs, replace=False)
    src = rng.integers(0, n, len(near))
    for i, (dst, s) in enumerate(zip(near.tolist(), src.tolist())):
        if s == dst:
            s = (s + 1) % n
        texts[dst] = texts[s] if i < exact_pairs else texts[s] + " dup"
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)].tolist()
    return texts, langs


def documents_table(out_dir: str, seed: int) -> int:
    """The base corpus with seed-permuted ``doc_id``s (``corpus_export``):
    which copy of a duplicate is the keeper, and so every expected result,
    depends on the seed while the work per query stays the same."""
    texts, langs = base_corpus()
    n = len(texts)
    perm = np.random.default_rng([seed, 3]).permutation(n)
    order = np.argsort(perm)  # row i of the file holds doc_id i
    ids = np.arange(n)
    _write(out_dir, "documents", {
        "doc_id": ids,
        "text": [texts[j] for j in order.tolist()],
        "lang": [langs[j] for j in order.tolist()],
        "source": [f"src{i % 20}" for i in ids.tolist()],
        "n_chars": np.array([len(texts[j]) for j in order.tolist()], "int64"),
    })
    return n


def stream_chunks(
    src_dir: str, table_dir: str, seed: int, n: int = 5_000, n_chunks: int = 2,
    dup_share: float = 0.10,
) -> dict[str, int]:
    """Chunk files for ``stream_ingest`` plus the same rows as one
    ``documents`` table (the oracle's input).

    ``dup_share`` of the documents are exact copies of an earlier text;
    each document is assigned to one of ``n_chunks`` files by the seed."""
    rng = np.random.default_rng([seed, 4])
    texts, langs = base_corpus(n)
    dups = rng.choice(n, int(n * dup_share), replace=False)
    for d in dups.tolist():
        texts[d] = texts[int(rng.integers(0, n))]
    ids = rng.permutation(n).astype("int64")
    chunk = rng.integers(0, n_chunks, n)
    cols = {
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids.tolist()],
    }
    table = pa.table(cols)
    os.makedirs(src_dir, exist_ok=True)
    for c in range(n_chunks):
        pq.write_table(
            table.filter(pa.array(chunk == c)),
            os.path.join(src_dir, f"part-{c:05d}.parquet"),
        )
    _write(table_dir, "documents", {
        **cols, "n_chars": np.array([len(t) for t in texts], "int64"),
    })
    return {"documents": n, "distinct_texts": len(set(texts)), "chunks": n_chunks}

