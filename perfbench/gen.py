"""Seeded input generator for the lakehouse benchmark.

Every table the engine's registry reads (``plans.registry.TABLES``) is
generated from one integer seed with the schemas and value domains of the
engine's synthetic star-schema fixtures (``FIXTURES.md`` section A), so the
benchmark needs nothing outside its own checkout. The corpus is *up-scaled*:
a base set of documents and embeddings is drawn once and replicated
``copies`` times with an id offset per copy and a per-copy perturbation (one
word swapped per document, small noise on each vector). Each copy therefore
keeps the base's internal duplicate density, and every base document gains
``copies - 1`` near-duplicates, which is the per-row work the dedup and
similarity kernels exist for.

The same seed and sizes give byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated data set.

    ``sf`` scales the relational tables like the fixtures' scale factor
    (lineitem = 6M x sf). The corpus is ``base_docs x copies`` documents, of
    which the first ``base_vecs`` ids of every copy carry an embedding."""

    sf: float = 0.01
    base_docs: int = 120
    base_vecs: int = 80
    copies: int = 3

    @property
    def n_docs(self) -> int:
        return self.base_docs * self.copies


def _dates(rng, n, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng, sf: float) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)
    n_li = max(int(6_000_000 * sf), 2_000)
    n_evt = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 20)
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _dates(rng, n_li, "1995-01-02", 2498),
        }
    )
    # events arrive in time order over 30 days, like a log
    gaps = rng.exponential(30 * 86_400e6 / n_evt, n_evt).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.maximum(np.round(rng.exponential(50, n_evt), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    return out


def corpus(rng, sizes: Sizes) -> dict[str, pa.Table]:
    """Base corpus replicated ``copies`` times with per-copy perturbation."""
    nb, nv = sizes.base_docs, sizes.base_vecs
    lens = rng.integers(10, 100, nb)
    base_words = [rng.integers(0, len(VOCAB), n) for n in lens]
    langs = rng.choice(LANGS, nb, p=LANG_P)
    base_vec = rng.standard_normal((nv, EMB_DIM))
    labels = rng.integers(0, 10, nv)
    doc_id, text, lang, source = [], [], [], []
    vec_id, vecs, vec_label = [], [], []
    for c in range(sizes.copies):
        off = c * nb
        for i, words in enumerate(base_words):
            words = words.copy()
            if c:  # copy 0 is the base itself; later copies swap one word
                words[rng.integers(0, len(words))] = rng.integers(0, len(VOCAB))
            doc_id.append(off + i)
            text.append(" ".join(VOCAB[w] for w in words))
            lang.append(langs[i])
            source.append(f"src{(off + i) % 20}")
        v = base_vec + (0.05 * rng.standard_normal(base_vec.shape) if c else 0)
        v = v / np.linalg.norm(v, axis=1, keepdims=True)
        vec_id.extend(range(off, off + nv))
        vecs.append(v.astype(np.float32))
        vec_label.extend(labels.tolist())
    flat = np.concatenate(vecs).reshape(-1)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(flat) + 1, EMB_DIM), pa.int32()),
        pa.array(flat, pa.float32()),
    )
    return {
        "documents": pa.table(
            {
                "doc_id": pa.array(doc_id, pa.int64()),
                "text": text,
                "lang": lang,
                "source": source,
                "n_chars": pa.array([len(t) for t in text], pa.int64()),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(vec_id, pa.int64()),
                "embedding": emb,
                "label": pa.array(vec_label, pa.int32()),
            }
        ),
    }


def generate(seed: int, out_dir: str, sizes: Sizes = Sizes()) -> str:
    """Write every registry table as ``out_dir/<table>.parquet``; returns
    ``out_dir``. The caller picks the directory name: the engine caches
    per-data-set artifacts by the directory's basename."""
    rng = np.random.default_rng(seed)
    tables = relational(rng, sizes.sf)
    tables.update(corpus(rng, sizes))
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

