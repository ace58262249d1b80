"""Seeded benchmark inputs: the star-schema + corpus tables the engine's
queries read, generated from ``--seed`` with the same schemas and value
distributions as the repository's sfN fixtures (recipe of
``tools/gen_sf.py``, which cannot be reused directly: it hard-codes its
seed, claims a pidfile at import and reads its vocabulary from a
fixture directory).

The few values that recipe samples from the fixtures (region and nation
rows, part-name words, the document vocabulary with its frequencies)
are constants here, so generation reads nothing but this file.

Every table draws from its own generator seeded by ``(seed, table)``,
so a workload that needs only some tables gets exactly the rows it
would get alongside all of them. Output is cached per
``(seed, scale, tables)`` and published with an atomic rename.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["F", "O"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 10
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
PART_ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
#: Document vocabulary and token counts measured on the sf0.1 fixture.
VOCAB = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144,
    "column": 9127, "vector": 9119, "stream": 9117, "value": 9112,
    "data": 9104, "small": 9100, "join": 9080, "filter": 9063,
    "big": 9057, "group": 9040, "hash": 9024, "customer": 9017,
    "sort": 9005, "order": 8971, "slow": 8960, "line": 8951,
    "part": 8929, "fast": 8926, "row": 8925, "the": 8925, "agg": 8912,
    "key": 8893, "query": 8881, "a": 8877, "scan": 8863, "batch": 8829,
    "dup": 255,
}

#: Row counts at scale 1 (sf1 = 10x the sf0.1 fixture).
SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
SF1_USERS = 15_000
TABLE_IDS = {
    name: i
    for i, name in enumerate(
        ("region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings", "order_dates")
    )
}
ALL_TABLES = tuple(n for n in TABLE_IDS if n != "order_dates")


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLE_IDS[table]])


def _n(table: str, scale: float) -> int:
    return max(1, int(SF1_ROWS[table] * scale))


def _round2(a: np.ndarray) -> np.ndarray:
    return np.round(a, 2)


def _order_days(seed: int, scale: float) -> tuple[np.datetime64, np.ndarray]:
    """Order dates as day offsets; lineitem ship dates derive from them."""
    d0 = np.datetime64("1995-01-01")
    span = int((np.datetime64("2001-08-01") - d0) / np.timedelta64(1, "D"))
    return d0, _rng(seed, "order_dates").integers(0, span + 1, _n("orders", scale))


def _region(seed: int, scale: float) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(seed: int, scale: float) -> pa.Table:
    keys = np.arange(N_NATIONS)
    return pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": pa.array(keys % len(REGIONS), pa.int32()),
    })


def _customer(seed: int, scale: float) -> pa.Table:
    rng, n = _rng(seed, "customer"), _n("customer", scale)
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n).astype(np.int32), pa.int32()),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def _supplier(seed: int, scale: float) -> pa.Table:
    rng, n = _rng(seed, "supplier"), _n("supplier", scale)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n).astype(np.int32), pa.int32()),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n)),
    })


def _part(seed: int, scale: float) -> pa.Table:
    rng, n = _rng(seed, "part"), _n("part", scale)
    adjs = np.array(PART_ADJS)[rng.integers(0, len(PART_ADJS), n)]
    nouns = np.array(PART_NOUNS)[rng.integers(0, len(PART_NOUNS), n)]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": np.char.add(np.char.add(adjs, " "), nouns),
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32), pa.int32()),
        "p_retailprice": _round2(rng.uniform(900.0, 999.9, n)),
    })


def _orders(seed: int, scale: float) -> pa.Table:
    rng, n = _rng(seed, "orders"), _n("orders", scale)
    d0, days = _order_days(seed, scale)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, _n("customer", scale), n), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, n)),
        "o_orderdate": pa.array((d0 + days.astype("timedelta64[D]")).astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def _lineitem(seed: int, scale: float) -> pa.Table:
    rng, n = _rng(seed, "lineitem"), _n("lineitem", scale)
    d0, days = _order_days(seed, scale)
    okey = rng.integers(0, len(days), n)
    ship = d0 + days[okey].astype("timedelta64[D]") + rng.integers(1, 96, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, _n("part", scale), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, _n("supplier", scale), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105000.0, n)),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(RETURNFLAGS)[rng.integers(0, 3, n)],
        "l_linestatus": np.array(LINESTATUSES)[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def _events(seed: int, scale: float) -> pa.Table:
    rng, n = _rng(seed, "events"), _n("events", scale)
    t0 = np.datetime64("2024-01-01T00:00:00.000000")
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, month_us, n).astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(1, int(SF1_USERS * scale)), n), pa.int64()),
        "event_type": np.array(ETYPES)[rng.integers(0, 5, n)],
        "value": _round2(rng.exponential(50.0, n)),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(seed: int, scale: float) -> pa.Table:
    rng, n = _rng(seed, "documents"), _n("documents", scale)
    vocab = np.array(list(VOCAB))
    probs = np.array(list(VOCAB.values()), dtype=np.float64)
    probs /= probs.sum()
    lens = rng.integers(8, 100, n)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # Near-duplicate of an earlier document with ~10% of its
            # tokens replaced: the dedup family's above-threshold pairs.
            src = texts[int(rng.integers(0, i))].split(" ")
            swap = rng.random(len(src)) < 0.1
            repl = vocab[rng.choice(len(vocab), size=len(src), p=probs)]
            texts.append(" ".join(np.where(swap, repl, np.array(src))))
        else:
            texts.append(" ".join(vocab[rng.choice(len(vocab), size=int(lens[i]), p=probs)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=n, p=np.array(LANG_P) / sum(LANG_P))],
        "source": [f"src{int(s)}" for s in rng.integers(0, N_SOURCES, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(seed: int, scale: float) -> pa.Table:
    # Weakly correlated clusters: intra-cluster cosine ~0.3 with a tail
    # past the 0.40 dedup threshold, as in the fixtures.
    rng, n = _rng(seed, "embeddings"), _n("embeddings", scale)
    centers = rng.normal(0.0, 0.15, (EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, n)
    vecs = centers[labels] + rng.normal(0.0, 0.22, (n, EMB_DIM))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def dataset_dir(root: str, seed: int, scale: float, tables) -> str:
    """Generate (or reuse) the tables for ``seed`` at ``scale`` under
    ``root``; returns the directory holding ``<table>.parquet`` files."""
    tables = sorted(tables)
    tag = "-".join(str(TABLE_IDS[t]) for t in tables)
    out = os.path.join(root, f"seed{seed}-scale{scale:g}-t{tag}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    staging = f"{out}.staging.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for name in tables:
        pq.write_table(_BUILDERS[name](seed, scale), os.path.join(staging, f"{name}.parquet"))
    open(os.path.join(staging, "_DONE"), "w").close()
    try:
        os.rename(staging, out)
    except OSError:  # another run published the same inputs first
        shutil.rmtree(staging, ignore_errors=True)
    return out


if __name__ == "__main__":
    import sys

    root, seed, scale, *names = sys.argv[1:]
    print(dataset_dir(root, int(seed), float(scale), names or ALL_TABLES))
