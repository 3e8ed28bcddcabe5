"""Seeded input generator for the benchmark.

Writes the ten tables the catalog reads (`region nation customer supplier
part orders lineitem events documents embeddings`) with the schemas,
cardinalities and value domains of the sf0.1 test data: uniform foreign
keys over dense ``0..N-1`` domains, two-decimal money columns, a 30-word
token-soup corpus with planted exact and near duplicates, and unit-norm
64-d embeddings. The same seed gives byte-identical tables.

The sf1 input is the deterministic 10x blow-up of the sf0.1 tables done by
``scripts/make_sf1.py``, whose per-copy key strides are exactly the sf0.1
cardinalities used here.
"""

from __future__ import annotations

import contextlib
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 cardinalities; scripts/make_sf1.py's STRIDES assume these domains
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
USERS = 1_500
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05
EXACT_DUP_PAIRS = 8
EMBED_DIM = 64


def _days(start: str, n: int, span_days: int, rng) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def make_tables(out: Path, seed: int) -> None:
    """Write the sf0.1-shaped tables for ``seed`` into ``out``."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    n = ROWS["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })

    n = ROWS["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })

    n = ROWS["part"]
    keys = np.arange(n)
    _write(out, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })

    n = ROWS["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", n, 2404, rng),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n)],
    })

    n = ROWS["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n)],
        "l_shipdate": _days("1995-01-02", n, 2498, rng),
    })

    n = ROWS["events"]
    month_us = 30 * 86_400 * 1_000_000
    _write(out, "events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, month_us, n)).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, USERS, n), i64),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = ROWS["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 101, n)]
    copies = rng.choice(n, int(n * NEAR_DUP_SHARE) + EXACT_DUP_PAIRS,
                        replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n), copies), len(copies),
                           replace=False)
    for j, (c, o) in enumerate(zip(copies, originals)):
        texts[c] = texts[o] if j < EXACT_DUP_PAIRS else texts[o] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    n = ROWS["embeddings"]
    mat = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32),
    })


def row_counts(sf_dir: Path) -> dict[str, int]:
    return {p.stem: pq.ParquetFile(p).metadata.num_rows
            for p in sorted(sf_dir.glob("*.parquet"))}


def blow_up(src: Path, out: Path, copies: int) -> None:
    """The sf1 input: ``scripts/make_sf1.py``'s blow-up of ``src``."""
    from scripts import make_sf1

    import duckdb

    out.mkdir(parents=True, exist_ok=True)
    make_sf1.SRC = str(src)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    with contextlib.redirect_stdout(sys.stderr):
        make_sf1.build_plain(con, out, copies)
        make_sf1.build_documents(out, copies)
        make_sf1.build_embeddings(out, copies)


def _materialise(root: Path, scale: str, seed: int, want: dict[str, int],
                 build) -> Path:
    """``root/<scale>-seed<seed>``, written by ``build(dir)`` unless it holds
    the ``want`` row counts. Other seeds' directories at this scale are
    removed first, so the checkout holds one input set per scale."""
    out = root / f"{scale}-seed{seed}"
    if row_counts(out) != want:
        for old in root.glob(f"{scale}-seed*"):
            shutil.rmtree(old)
        tmp = root / f".tmp-{scale}-seed{seed}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        tmp.rename(out)
    return out


def ensure_inputs(root: Path, seed: int, copies: int) -> Path:
    """The input directory for ``seed``: the sf0.1 tables, blown up
    ``copies`` times when ``copies`` > 1."""
    want = dict(ROWS, region=5, nation=25)
    base = _materialise(root, "sf0.1", seed, want,
                        lambda d: make_tables(d, seed))
    if copies == 1:
        return base
    want = {t: n if t in ("region", "nation") else n * copies
            for t, n in want.items()}
    return _materialise(root, f"sf0.1x{copies}", seed, want,
                        lambda d: blow_up(base, d, copies))
