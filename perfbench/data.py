"""Seeded inputs and numpy ground truth for the benchmark workloads.

Everything a workload sends to the engine is generated here from the
workload seed, and every answer is checked against truth computed here
in numpy (or, for the corpus suite, by the query's DuckDB oracle); the
engine never sees the truth.
"""

from __future__ import annotations

import os

import numpy as np

DIM = 64
STRINGS = [f"s{i:02d}" for i in range(16)]


class Docs:
    """A live document set in the F1 shape (``_id``, ``field_int``,
    ``field_double``, ``field_string``, ``field_vector``), kept as numpy
    columns so truth can be recomputed after every write.

    ``batch`` is the write batch that first inserted each doc: the
    engine's ``_seq`` orders docs by (first batch, ``_id`` string), and
    an overwrite keeps the old ``_seq``."""

    def __init__(self, rng: np.random.Generator, n: int, n_clusters: int = 64):
        self.rng = rng
        self.centers = rng.normal(0.0, 4.0, (n_clusters, DIM))
        self.ids = np.arange(n, dtype=np.int64)
        self.batch = np.zeros(n, dtype=np.int64)
        self.n_batches = 1
        self.next_id = n
        self.ints, self.doubles, self.strings, self.vecs = self._fields(n)

    def _fields(self, n: int):
        r = self.rng
        cell = r.integers(0, len(self.centers), n)
        vecs = (self.centers[cell] + r.normal(0.0, 1.0, (n, DIM))).astype(np.float32)
        ints = r.integers(0, 100, n).astype(np.int64)
        doubles = np.round(r.uniform(0.0, 1000.0, n), 3)
        strings = np.array(STRINGS)[r.integers(0, len(STRINGS), n)]
        return ints, doubles, strings, vecs

    def rows(self, pos: np.ndarray) -> list[dict]:
        return [
            {
                "_id": str(int(self.ids[i])),
                "field_int": int(self.ints[i]),
                "field_double": float(self.doubles[i]),
                "field_string": str(self.strings[i]),
                "field_vector": self.vecs[i].tolist(),
            }
            for i in pos
        ]

    def position(self, ids: list[str]) -> np.ndarray:
        """Row positions of string ids; -1 where the id is not live."""
        want = np.array([int(i) for i in ids], dtype=np.int64)
        order = np.argsort(self.ids)
        at = np.searchsorted(self.ids, want, sorter=order).clip(0, len(self.ids) - 1)
        pos = order[at]
        return np.where(self.ids[pos] == want, pos, -1)

    def sample_ids(self, n: int) -> list[str]:
        pick = self.rng.choice(len(self.ids), size=n, replace=False)
        return [str(int(i)) for i in self.ids[pick]]

    def upsert_batch(self, n_new: int, n_old: int) -> list[dict]:
        """A write batch mixing ``n_new`` fresh ids and ``n_old``
        overwrites of live ids; applied to the truth immediately."""
        old = self.rng.choice(len(self.ids), size=n_old, replace=False)
        ints, doubles, strings, vecs = self._fields(n_old + n_new)
        self.ints[old], self.doubles[old] = ints[:n_old], doubles[:n_old]
        self.strings[old], self.vecs[old] = strings[:n_old], vecs[:n_old]
        start = len(self.ids)
        self.ids = np.concatenate(
            [self.ids, np.arange(self.next_id, self.next_id + n_new, dtype=np.int64)]
        )
        self.batch = np.concatenate([self.batch, np.full(n_new, self.n_batches)])
        self.next_id += n_new
        self.n_batches += 1
        self.ints = np.concatenate([self.ints, ints[n_old:]])
        self.doubles = np.concatenate([self.doubles, doubles[n_old:]])
        self.strings = np.concatenate([self.strings, strings[n_old:]])
        self.vecs = np.concatenate([self.vecs, vecs[n_old:]])
        return self.rows(np.concatenate([old, np.arange(start, len(self.ids))]))

    def delete_some(self, n: int) -> list[str]:
        """Remove ``n`` random live ids from the truth; returns them."""
        gone = self.rng.choice(len(self.ids), size=n, replace=False)
        out = [str(int(i)) for i in self.ids[gone]]
        keep = np.ones(len(self.ids), dtype=bool)
        keep[gone] = False
        for name in ("ids", "batch", "ints", "doubles", "strings", "vecs"):
            setattr(self, name, getattr(self, name)[keep])
        return out

    def queries(self, n: int) -> np.ndarray:
        """Query vectors near live docs (perturbed copies)."""
        pick = self.rng.integers(0, len(self.ids), n)
        noise = self.rng.normal(0.0, 0.5, (n, DIM))
        return (self.vecs[pick] + noise).astype(np.float32)

    def user_bytes(self) -> int:
        """Bytes of the live docs as the user sent them: the id and
        string bytes, 8 bytes per number and 4 per vector float."""
        text = sum(len(s) for s in self.strings) + sum(len(str(i)) for i in self.ids)
        return int(len(self.ids) * (8 + 8 + 4 * DIM) + text)

    def l2(self, q: np.ndarray, mask: np.ndarray | None = None) -> np.ndarray:
        """Squared L2 from ``q`` to every live doc (inf where masked out)."""
        d = self.vecs.astype(np.float64) - q.astype(np.float64)
        dist = np.einsum("ij,ij->i", d, d)
        return dist if mask is None else np.where(mask, dist, np.inf)

    def scan_order(self, mask: np.ndarray, limit: int) -> list[str]:
        """Ids of the first ``limit`` docs matching ``mask`` in ingest
        (``_seq``) order — the query verb's answer."""
        pos = np.flatnonzero(mask)
        keys = sorted(pos, key=lambda i: (self.batch[i], str(self.ids[i])))
        return [str(int(self.ids[i])) for i in keys[:limit]]

    def matches(self, pos: int, row: dict) -> bool:
        """A returned row carries the doc's current scalar values."""
        return (
            row["field_int"] == self.ints[pos]
            and abs(row["field_double"] - self.doubles[pos]) < 1e-9
            and row["field_string"] == self.strings[pos]
        )


def exact_ok(dist: np.ndarray, docs: Docs, hit_ids: list[str], k: int) -> bool:
    """Tie-aware exact top-k check: the hits are distinct live ids and
    their distances are the k smallest (equal distances may swap)."""
    want = min(k, int(np.isfinite(dist).sum()))
    if len(hit_ids) != want or len(set(hit_ids)) != want:
        return False
    if want == 0:
        return True
    pos = docs.position(hit_ids)
    if (pos < 0).any():
        return False
    got = np.sort(dist[pos])
    truth = np.sort(np.partition(dist, want - 1)[:want])
    return bool(np.allclose(got, truth, rtol=1e-4, atol=1e-3))


def recall(dist: np.ndarray, docs: Docs, hit_ids: list[str], k: int) -> float:
    """Tie-aware recall@k: distinct live hits within the k-th true
    distance, over k (or over the number of candidates when fewer)."""
    want = min(k, int(np.isfinite(dist).sum()))
    if want == 0:
        return 1.0
    kth = np.partition(dist, want - 1)[want - 1]
    pos = docs.position(list(dict.fromkeys(hit_ids))[:k])
    pos = pos[pos >= 0]
    return float((dist[pos] <= kth * (1 + 1e-4) + 1e-3).sum()) / want


# ------------------------------------------------------------ corpus tables

WORDS = (
    "the a data table row column key value query scan filter join merge sort "
    "hash group agg window order batch stream line part customer vector spark "
    "big small fast slow"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.145, 0.14, 0.125]


def _text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(WORDS, size=int(rng.integers(8, 90))))


def write_corpus_tables(rng: np.random.Generator, out_dir: str) -> None:
    """The TPC-H-style tables the corpus suite reads (``documents``,
    ``embeddings``, ``lineitem``, ``orders``), in the sf0.001 shape, as
    parquet under ``out_dir``. About one doc in eight is a lightly
    edited copy of an earlier one, so the dedup queries find pairs."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    n_docs = 500
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng))
    pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    ).to_parquet(f"{out_dir}/documents.parquet", index=False)

    n_emb = 500
    emb = rng.normal(0.0, 0.125, (n_emb, DIM)).astype(np.float32)
    pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    ).to_parquet(f"{out_dir}/embeddings.parquet", index=False)

    n_orders = 1500
    day = np.datetime64("1995-01-01")
    pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, 150, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": (day + rng.integers(0, 2400, n_orders).astype("timedelta64[D]"))
            .astype("datetime64[us]"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_orders
            ),
        }
    ).to_parquet(f"{out_dir}/orders.parquet", index=False)

    n_li = 6000
    orderkey = rng.integers(0, n_orders, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    pd.DataFrame(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, 200, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, 10, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
            "l_linestatus": rng.choice(["F", "O"], size=n_li),
            "l_shipdate": (day + rng.integers(0, 2400, n_li).astype("timedelta64[D]"))
            .astype("datetime64[us]"),
        }
    ).to_parquet(f"{out_dir}/lineitem.parquet", index=False)
