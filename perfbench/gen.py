"""Seeded input generator: the same seed gives byte-identical files.

Tables follow the schemas and value domains of the repo's testdata
fixtures (FIXTURES.md): a TPC-H-ish star schema, an ``events`` stream
table and the ``documents``/``embeddings`` LLM corpus. The 10x
fixture is derived from a base fixture the way
``scripts/synth_scale.py`` derives one: fact tables are replicated
with consistently shifted keys, ``orders`` replicas re-key every
173rd order onto one "whale" customer, ``documents`` replicas get a
suffix token and ``embeddings`` replicas a first-component offset.
Here the seed also picks the key shift beyond ``max(key) + 1`` and
the suffix salt. (synth_scale's planted span-dup chains only feed
d50, which no workload runs, so they are left out.)

Every table draws from its own ``(seed, table)`` random stream, so
generating a subset of tables gives the same bytes for each one.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPL = 10
WHALE_EVERY = 173
TABLE_IDS = {
    name: i
    for i, name in enumerate(
        (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
            "matrix",
            "order",
        )
    )
}
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
US_PER_DAY = 86_400_000_000


def rng_for(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLE_IDS[table]])


def _ts(epoch_day: str, us: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch_day, "us").astype(np.int64)
    return pa.array(base + us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, sizes: dict[str, int], names) -> dict[str, pa.Table]:
    """Base fixture. ``sizes`` gives row counts for the sized tables
    (supplier, customer, part, orders, lineitem, events, documents,
    embeddings); only ``names`` are generated."""
    out = {}
    n = sizes
    for name in names:
        r = rng_for(seed, name)
        if name == "region":
            out[name] = pa.table(
                {
                    "r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
                }
            )
        elif name == "nation":
            out[name] = pa.table(
                {
                    "n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
                }
            )
        elif name == "supplier":
            k = n["supplier"]
            out[name] = pa.table(
                {
                    "s_suppkey": pa.array(np.arange(k), pa.int64()),
                    "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                    "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
                    "s_acctbal": _money(r, -999.99, 9999.99, k),
                }
            )
        elif name == "customer":
            k = n["customer"]
            out[name] = pa.table(
                {
                    "c_custkey": pa.array(np.arange(k), pa.int64()),
                    "c_name": [f"Customer#{i:09d}" for i in range(k)],
                    "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
                    "c_acctbal": _money(r, -999.99, 9999.99, k),
                    "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, k)],
                }
            )
        elif name == "part":
            k = n["part"]
            keys = np.arange(k)
            out[name] = pa.table(
                {
                    "p_partkey": pa.array(keys, pa.int64()),
                    "p_name": [
                        f"{COLORS[a]} {NOUNS[b]}"
                        for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
                    ],
                    "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, k)],
                    "p_type": [TYPES[i] for i in r.integers(0, 6, k)],
                    "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
                    "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
                }
            )
        elif name == "orders":
            k = n["orders"]
            out[name] = pa.table(
                {
                    "o_orderkey": pa.array(np.arange(k), pa.int64()),
                    "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
                    "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, k)],
                    "o_totalprice": _money(r, 1000.0, 500000.0, k),
                    "o_orderdate": _ts(
                        "1995-01-01", r.integers(0, 2404, k) * US_PER_DAY
                    ),
                    "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, k)],
                }
            )
        elif name == "lineitem":
            k = n["lineitem"]
            out[name] = pa.table(
                {
                    "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
                    "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
                    "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
                    "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
                    "l_quantity": r.integers(1, 51, k).astype(np.float64),
                    "l_extendedprice": _money(r, 900.0, 105000.0, k),
                    "l_discount": r.integers(0, 11, k) / 100.0,
                    "l_tax": r.integers(0, 9, k) / 100.0,
                    "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, k)],
                    "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, k)],
                    "l_shipdate": _ts(
                        "1995-01-02", r.integers(0, 2498, k) * US_PER_DAY
                    ),
                }
            )
        elif name == "events":
            k = n["events"]
            # distinct sorted microsecond offsets over 30 days: no
            # (user_id, ts) pair repeats, ts rises with event_id
            us = np.sort(r.choice(30 * US_PER_DAY, size=k, replace=False))
            out[name] = pa.table(
                {
                    "event_id": pa.array(np.arange(k), pa.int64()),
                    "ts": _ts("2024-01-01", us),
                    "user_id": pa.array(
                        r.integers(0, max(1, k // 66), k), pa.int64()
                    ),
                    "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, k)],
                    "value": np.round(r.exponential(40.0, k), 2),
                    "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, k)],
                }
            )
        elif name == "documents":
            k = n["documents"]
            texts: list[str] = []
            for i in range(k):
                if i > 10 and r.random() < 0.05:
                    # planted near-duplicate of an earlier document
                    texts.append(texts[int(r.integers(0, i))] + " dup")
                else:
                    toks = r.integers(0, len(VOCAB), int(r.integers(10, 100)))
                    texts.append(" ".join(VOCAB[t] for t in toks))
            lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
            out[name] = pa.table(
                {
                    "doc_id": pa.array(np.arange(k), pa.int64()),
                    "text": texts,
                    "lang": [LANGS[i] for i in r.choice(5, size=k, p=lang_p)],
                    "source": [f"src{i % 20}" for i in range(k)],
                    "n_chars": pa.array([len(s) for s in texts], pa.int64()),
                }
            )
        elif name == "embeddings":
            k = n["embeddings"]
            v = r.standard_normal((k, 64))
            v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
            out[name] = pa.table(
                {
                    "vec_id": pa.array(np.arange(k), pa.int64()),
                    "embedding": pa.array(list(v), pa.list_(pa.float32())),
                    "label": pa.array(r.integers(0, 10, k), pa.int32()),
                }
            )
        else:
            raise KeyError(name)
    return out


def _concat(parts: list[pa.Table]) -> pa.Table:
    return pa.concat_tables(parts).combine_chunks()


def replicate(seed: int, tables: dict[str, pa.Table]) -> dict[str, pa.Table]:
    """10x fixture in the synth_scale scheme; dimension tables stay."""
    r = np.random.default_rng([seed, 99])
    shift = int(r.integers(1, 1000))  # seeded slack beyond max(key) + 1
    salt = f"s{int(r.integers(0, 10**6))}"
    out = dict(tables)

    def shifted(t: pa.Table, key: str, span: int, i: int) -> pa.Table:
        col = t.column(key).to_numpy() + i * span
        return t.set_column(t.schema.get_field_index(key), key, pa.array(col, pa.int64()))

    if "orders" in tables or "lineitem" in tables:
        o = tables["orders"]
        span = int(o.column("o_orderkey").to_numpy().max()) + 1 + shift
        whale = int(o.column("o_custkey").to_numpy().min())
        parts_o, parts_l = [], []
        for i in range(REPL):
            p = o
            if i:
                cust = np.where(
                    o.column("o_orderkey").to_numpy() % WHALE_EVERY == 0,
                    whale,
                    o.column("o_custkey").to_numpy(),
                )
                p = p.set_column(
                    p.schema.get_field_index("o_custkey"),
                    "o_custkey",
                    pa.array(cust, pa.int64()),
                )
            parts_o.append(shifted(p, "o_orderkey", span, i))
            if "lineitem" in tables:
                parts_l.append(shifted(tables["lineitem"], "l_orderkey", span, i))
        out["orders"] = _concat(parts_o)
        if parts_l:
            out["lineitem"] = _concat(parts_l)
    for name, key in (("events", "event_id"), ("documents", "doc_id"), ("embeddings", "vec_id")):
        if name not in tables:
            continue
        t = tables[name]
        span = int(t.column(key).to_numpy().max()) + 1 + shift
        parts = []
        for i in range(REPL):
            p = t
            if i and name == "documents":
                txt = [f"{s} r{i}{salt}" for s in t.column("text").to_pylist()]
                p = p.set_column(p.schema.get_field_index("text"), "text", pa.array(txt))
            elif i and name == "embeddings":
                v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
                v = v.astype(np.float32)
                v[:, 0] = (v[:, 0] + np.float32(i * 0.001)).astype(np.float32)
                p = p.set_column(
                    p.schema.get_field_index("embedding"),
                    "embedding",
                    pa.array(list(v), pa.list_(pa.float32())),
                )
            parts.append(shifted(p, key, span, i))
        out[name] = _concat(parts)
    return out


def count_matrix(seed: int, rows: int, cols: int = 64) -> np.ndarray:
    """Single-cell-like counts: per-cell depth times per-gene rate,
    Poisson-sampled, so most entries are 0 and the rest small."""
    r = rng_for(seed, "matrix")
    depth = r.lognormal(0.0, 0.5, (rows, 1))
    rate = r.lognormal(-1.5, 1.0, (1, cols))
    return r.poisson(depth * rate).astype(np.float64)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def content_hash(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def shuffled(seed: int, items: list, stream: int = 0) -> list:
    """Seed-shuffled copy of ``items`` (per-pass operation order)."""
    r = np.random.default_rng([seed, TABLE_IDS["order"], stream])
    return [items[i] for i in r.permutation(len(items))]

