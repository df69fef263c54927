"""Seeded input generator for the benchmark: numpy and pyarrow, no Spark.

``generate(out_dir, seed, scale)`` writes the ten tables the engine
reads (``region nation customer supplier part orders lineitem events
documents embeddings``, one parquet file each), shaped like the
synthetic star schema the engine is tested on. ``scale`` is in
scale-factor units: ``scale=0.1`` gives 600,000 lineitem rows, 5,000
documents and 2,000 embeddings. The same ``(seed, scale)`` always gives
byte-identical files; :func:`content_hash` fingerprints them.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices, n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), n)
    return pa.array(np.asarray(choices, dtype=object)[idx], type=pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: int, n_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, n_days, n) * _DAY_US


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary, 10-100 words each; about
    5 % of documents are near-duplicates (a copy of an earlier document
    with one to three ``dup`` tokens appended) and a few are exact
    copies."""
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    near = rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False)
    for j in near:
        src = int(rng.integers(0, j))
        texts[j] = texts[src] + " dup" * int(rng.choice([1, 1, 1, 2, 3]))
    exact = rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False)
    for j in exact:
        texts[j] = texts[int(rng.integers(0, j))]
    langs = np.asarray(["en", "en", "de", "es", "fr", "zh"], dtype=object)
    lang_w = np.array([0.2, 0.2, 0.15, 0.15, 0.15, 0.15])
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs[rng.choice(len(langs), n, p=lang_w)], type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], type=pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in 64 dimensions with a weak pull toward one of ten
    label centres."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.standard_normal((10, EMBED_DIM)).astype(np.float32)
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32) + 0.5 * centres[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    })


def base_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """One universe at ``scale`` (scale-factor units), fully determined
    by ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_evt = int(6_000_000 * scale), int(1_000_000 * scale)
    n_user, n_doc, n_vec = int(15_000 * scale), int(50_000 * scale), int(20_000 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    partkey = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": partkey,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days(rng, _epoch_us(1995, 1, 1), 2404, n_ord)),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, _epoch_us(1995, 1, 2), 2499, n_line)),
    })
    ts = np.sort(_epoch_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], type=pa.string()),
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def generate(out_dir: str, seed: int, scale: float) -> None:
    """Write every table under ``out_dir`` as one parquet file."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in base_tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def content_hash(data_dir: str) -> str:
    """sha256 over every generated parquet file, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]
