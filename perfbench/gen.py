"""Seeded inputs for the benchmark.

Everything the workloads read is made here from ``--seed``: a retail
lake shaped like the sf0.1 test lake (``orders``, ``customer``, ``part``,
``events``) and a curation corpus (``documents``, ``embeddings``). The
same seed gives byte-identical parquet files. Tables are written with
pyarrow, so generation does not touch Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table; the lake matches sf0.1, the corpus matches sf0.1
LAKE_ROWS = {"orders": 150_000, "customer": 15_000, "part": 20_000}
EVENT_ROWS = 100_000  # the events table as first landed
EVENT_BATCH_ROWS = 2_000  # new events landed per round, in two files
CORPUS_ROWS = {"documents": 5_000, "embeddings": 2_000}
EMB_DIM = 64
N_LABELS = 10

WORDS = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row"
    " the agg key query a scan batch"
).split()
LANGS = (["en"] * 4) + ["zh", "es", "fr", "de"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
DAY_US = 86_400_000_000


def _orders(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
            "o_totalprice": pa.array(
                np.round(rng.uniform(900.0, 500_000.0, n), 2), pa.float64()
            ),
            "o_orderdate": pa.array(
                EPOCH_US - rng.integers(0, 3_000, n) * DAY_US,
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"],
                    n,
                )
            ),
        }
    )


def _customer(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(
                np.round(rng.uniform(-999.99, 9999.99, n), 2), pa.float64()
            ),
            "c_mktsegment": pa.array(
                rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"],
                    n,
                )
            ),
        }
    )


def _part(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    adj = np.array(["large", "hot", "blue", "small", "red", "cold"])
    noun = np.array(["ring", "bolt", "gear", "nut", "pipe", "valve"])
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(
                np.char.add(np.char.add(rng.choice(adj, n), " "),
                            rng.choice(noun, n))
            ),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n).astype(str))
            ),
            "p_type": pa.array(
                rng.choice(["LARGE", "ECONOMY", "SMALL", "MEDIUM",
                            "PROMO", "STANDARD"], n)
            ),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (keys % 20_000) / 10.0, 2), pa.float64()
            ),
        }
    )


def _events(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "event_id": pa.array(keys, pa.int64()),
            "ts": pa.array(
                EPOCH_US + keys * 25_000_000 + rng.integers(0, 1_000_000, n),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
            "event_type": pa.array(
                rng.choice(["view", "click", "purchase", "signup", "error"], n)
            ),
            "value": pa.array(
                np.round(rng.uniform(0.0, 200.0, n), 2), pa.float64()
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


MAKERS = {
    "orders": _orders,
    "customer": _customer,
    "part": _part,
    "events": _events,
}
KEYS = {
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "events": "event_id",
}


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file (parents created); returns its bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


class KeyedTable:
    """A lake table's current state plus seeded change sets.

    ``change`` returns the rows to upsert and the keys to delete, and
    advances the state; rows stay sorted by key so each state is one
    deterministic file."""

    def __init__(self, name: str, rng: np.random.Generator, n: int):
        self.key, self.rng = KEYS[name], rng
        self.make = MAKERS[name]
        self.table = self.make(rng, np.arange(n, dtype=np.int64))
        self.next_key = n

    def change(
        self, n_update: int, n_delete: int, n_insert: int
    ) -> tuple[pa.Table, np.ndarray]:
        keys = self.table.column(self.key).to_numpy()
        picked = self.rng.choice(keys, n_update + n_delete, replace=False)
        updated, deleted = picked[:n_update], picked[n_update:]
        inserted = np.arange(
            self.next_key, self.next_key + n_insert, dtype=np.int64
        )
        self.next_key += n_insert
        upserts = pa.concat_tables(
            [self.make(self.rng, np.sort(updated)), self.make(self.rng, inserted)]
        )
        keep = ~np.isin(keys, picked)
        self.table = pa.concat_tables(
            [self.table.filter(pa.array(keep)), upserts]
        ).sort_by(self.key)
        return upserts, np.sort(deleted)

    def changes_frame(self, upserts: pa.Table, deleted: np.ndarray) -> pa.Table:
        """Upserts plus key-only tombstones, in ``commit_delta`` form."""
        tomb = pa.table(
            {
                f.name: (
                    pa.array(deleted, f.type)
                    if f.name == self.key
                    else pa.nulls(len(deleted), f.type)
                )
                for f in self.table.schema
            }
        )
        live = upserts.append_column(
            "_tombstone", pa.array([False] * upserts.num_rows)
        )
        dead = tomb.append_column(
            "_tombstone", pa.array([True] * len(deleted))
        )
        return pa.concat_tables([live, dead])


def events_batch(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    return _events(rng, np.arange(first_id, first_id + n, dtype=np.int64))


def corpus(rng: np.random.Generator, out_dir: str) -> dict[str, int]:
    """Write ``documents`` and ``embeddings`` like the test corpus: 5 %
    of documents are another document's text plus a ``dup`` token, 8
    are exact copies; vectors are unit-norm float32 with a label.
    Returns bytes per table."""
    n_docs = CORPUS_ROWS["documents"]
    lengths = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(rng.choice(words, k)) for k in lengths]
    # planted duplicates pair up disjoint docs, so the near-dup graph
    # has the same shape (components of two) for every seed
    n_near, n_exact = n_docs // 20, 8
    picked = rng.choice(n_docs, 2 * (n_near + n_exact), replace=False)
    src, dst = np.split(picked, 2)
    for k, (i, j) in enumerate(zip(src, dst)):
        texts[j] = texts[i] + (" dup" if k < n_near else "")
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n_vec = CORPUS_ROWS["embeddings"]
    m = rng.standard_normal((n_vec, EMB_DIM))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    m = m.astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, n_vec), pa.int32()),
        }
    )
    return {
        "documents": write(docs, f"{out_dir}/documents.parquet"),
        "embeddings": write(emb, f"{out_dir}/embeddings.parquet"),
    }
