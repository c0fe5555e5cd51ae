"""Seeded synthetic inputs in the shape of the engine's TPC-H-ish fixtures.

The tables, column types and value domains follow FIXTURES.md (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings). The row content of the base dataset is fixed (generator
seed ``BASE_SEED``); the benchmark's ``--seed`` drives the row
permutation and the re-split into part files, so every seed runs the same
rows in a different physical layout and the DuckDB oracle results are
shared by all seeds.

Only numpy and pyarrow are used: generating inputs never starts Spark.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
MIN_PART_ROWS = 50
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_LANGS = ["en", "de", "zh", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Documents shaped as measured on the test fixtures (sf0.01: 500 docs,
    sf0.1: 5000): 10 to 99 words drawn uniformly from the 30-word
    vocabulary; n // 20 docs are near-duplicates, each an exact copy of
    another doc with " dup" appended (25 of 500, 250 of 5000). Exact
    duplicates are not planted: they arise where two near-duplicates copy
    the same doc (fixtures: 0 at sf0.01, 8 at sf0.1)."""
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
             for _ in range(n)]
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[(i + rng.integers(1, n)) % n] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(_LANGS, rng.choice(len(_LANGS), n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The fixed-content dataset at scale factor ``sf`` (0.1 = the bench
    fixture size: 600k lineitem, 150k orders, 5000 documents)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(_SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(names, rng.integers(0, len(names), n_part)),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)),
        "p_type": _pick(_PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _pick(_PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    # (l_orderkey, l_linenumber) is unique: line numbers count the lines
    # of each order, so a composite document id is a real key.
    lok = np.sort(rng.integers(0, n_ord, n_li, dtype=np.int64))
    first = np.r_[0, np.flatnonzero(np.diff(lok)) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, n_li]))
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_li)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_li)),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev, dtype=np.int64),
        "event_type": _pick(_EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    # The documents draw from a stream of their own, so their duplicate
    # shares do not depend on the sizes of the other tables.
    t["documents"] = _documents(np.random.default_rng(BASE_SEED), n_doc)
    centers = rng.normal(0.0, 0.6, (10, 64))
    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(pa.list_(pa.float32())),
        "label": labels,
    })
    return t


def doc_shares(texts: list[str]) -> dict:
    """Duplicate material of a documents table, in the terms FIXTURES.md
    uses: near-duplicate ("dup"-marked) docs, exact duplicate docs, groups
    of docs sharing a 50-character prefix, and words per doc."""
    n_words = sorted(len(t.split(" ")) for t in texts)
    prefixes: dict[str, int] = {}
    for t in texts:
        prefixes[t[:50]] = prefixes.get(t[:50], 0) + 1
    return {
        "near_dup_docs": sum(t.endswith(" dup") for t in texts),
        "exact_dup_docs": len(texts) - len(set(texts)),
        "shared_prefix50_groups": sum(c > 1 for c in prefixes.values()),
        "words_min": n_words[0], "words_median": n_words[len(n_words) // 2],
        "words_max": n_words[-1],
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def write_layout(tables: dict[str, pa.Table], out: str, seed: int | None, parts: int) -> dict:
    """Write every table as ``<out>/<table>.parquet/part-NNNNN.parquet``.

    ``seed=None`` keeps the base row order and writes one file (one row
    group, one split) per table, the layout of the test fixtures.
    Otherwise rows are permuted with ``seed`` and cut into ``parts``
    equal files (fewer for small tables: at least ``MIN_PART_ROWS`` rows
    per file). Returns the layout record: files, rows and bytes per
    table, plus the duplicate shares of the documents.
    """
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = np.random.default_rng(seed) if seed is not None else None
    layout = {}
    for name, tab in tables.items():
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        n = tab.num_rows
        if rng is None:
            bounds = [0, n]
        else:
            tab = tab.take(pa.array(rng.permutation(n)))
            k = max(1, min(parts, n // MIN_PART_ROWS))
            bounds = [round(i * n / k) for i in range(k + 1)]
        for i in range(len(bounds) - 1):
            part = tab.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"),
                           row_group_size=max(1, part.num_rows))
        layout[name] = {"files": len(bounds) - 1, "rows": n, "bytes": _dir_bytes(d)}
        if name == "documents":
            layout[name].update(doc_shares(tab["text"].to_pylist()))
    with open(os.path.join(out, "_layout.json"), "w") as f:
        json.dump(layout, f, sort_keys=True)
    return layout


def ensure_base(root: str, sf: float) -> str:
    """Generate the base dataset once per checkout; returns its directory
    (single file per table, base row order)."""
    out = os.path.join(root, f"base-sf{sf:g}")
    if not os.path.isfile(os.path.join(out, "_layout.json")):
        write_layout(base_tables(sf), out, None, 1)
    return out


def read_base(base_dir: str, names=TABLES) -> dict[str, pa.Table]:
    return {n: pq.read_table(os.path.join(base_dir, f"{n}.parquet")) for n in names}


def date_window(rng, start: str, end: str, days: int) -> tuple[str, str]:
    """A seeded half-open date window [lo, hi) inside [start, end]."""
    lo = np.datetime64(start, "D") + int(rng.integers(0, (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int) - days))
    return str(lo), str(lo + days)

