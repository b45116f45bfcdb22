"""Seeded input generators.

Every workload input comes from a ``numpy.random.Generator`` built from
``--seed``: the same seed gives the same bytes. Two kinds of input:

- versioned HBase-style cells tables (``CELLS_SCHEMA``), appended batch
  by batch; each table keeps the per-row hashes of everything generated
  so far so a point-in-time restore can be checked against ground truth
  computed straight from the source, without Spark;
- a small TPC-H-like star schema plus the ``documents``/``embeddings``/
  ``events`` side tables, laid out as ``<dir>/<table>.parquet`` the way
  the registered queries and their DuckDB oracles read it.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import SEP, fold

TS_BASE = 1_600_000_000_000  # epoch-ms origin of the synthetic cell clock
BATCH_SPAN_MS = 1_000_000  # batch b owns ts in [TS_BASE + b*SPAN, TS_BASE + (b+1)*SPAN)
CFS = ("cf0", "cf1")
QUALIFIERS = tuple(f"q{i}" for i in range(4))

CELLS_ARROW = pa.schema(
    [
        pa.field("row_key", pa.string(), nullable=False),
        pa.field("cf", pa.string(), nullable=False),
        pa.field("qualifier", pa.string(), nullable=False),
        pa.field("ts", pa.int64(), nullable=False),
        pa.field("value", pa.string(), nullable=True),
    ]
)


def batch_end_ts(batch: int) -> int:
    """Exclusive upper bound of ``batch``'s timestamps — the export
    ``end_time`` that captures batches ``0..batch``."""
    return TS_BASE + (batch + 1) * BATCH_SPAN_MS


@dataclass
class CellsTable:
    """One source table on local disk, grown one parquet file per batch."""

    name: str
    path: str
    n_rows: int
    rng: np.random.Generator
    batches: int = 0
    source_bytes: int = 0
    _key: list[np.ndarray] = field(default_factory=list)
    _ts: list[np.ndarray] = field(default_factory=list)
    _hash: list[np.ndarray] = field(default_factory=list)

    @property
    def n_keys(self) -> int:
        return self.n_rows * len(CFS) * len(QUALIFIERS)

    def append_batch(self, n_cells: int) -> int:
        """Write the next batch of ``n_cells`` cells (new versions of
        random cell keys, unique timestamps inside the batch window).
        Returns the batch number."""
        b = self.batches
        key = self.rng.integers(0, self.n_keys, n_cells)
        ts = TS_BASE + b * BATCH_SPAN_MS + self.rng.choice(BATCH_SPAN_MS, n_cells, replace=False)
        vals = self.rng.integers(0, 2**62, n_cells)
        nq, ncf = len(QUALIFIERS), len(CFS)
        row = key // (nq * ncf)
        cf = (key // nq) % ncf
        q = key % nq
        row_key = [f"row{r:07d}" for r in row.tolist()]
        cf_s = [CFS[i] for i in cf.tolist()]
        q_s = [QUALIFIERS[i] for i in q.tolist()]
        value = [f"v{v:016x}" for v in vals.tolist()]
        # the Python twin of checks.row_hash_col over CELL_COLS (no value is null)
        hashes = np.fromiter(
            (
                zlib.crc32(f"{a}{SEP}{c}{SEP}{d}{SEP}{t}{SEP}{v}".encode())
                for a, c, d, t, v in zip(row_key, cf_s, q_s, ts.tolist(), value)
            ),
            dtype=np.int64,
            count=n_cells,
        )
        table = pa.Table.from_arrays(
            [pa.array(row_key), pa.array(cf_s), pa.array(q_s), pa.array(ts, pa.int64()), pa.array(value)],
            schema=CELLS_ARROW,
        )
        os.makedirs(self.path, exist_ok=True)
        part = os.path.join(self.path, f"part-{b:05d}.parquet")
        pq.write_table(table, part)
        self.source_bytes += os.path.getsize(part)
        self._key.append(key)
        self._ts.append(ts)
        self._hash.append(hashes)
        self.batches += 1
        return b

    def batch_cells(self, batch: int) -> int:
        return int(self._key[batch].size)

    def truth(self, cutoff_ts: int | None = None) -> tuple[int, int]:
        """Checksum of the newest version per cell key among cells with
        ``ts <= cutoff_ts`` (all cells when None) — the PITR contract."""
        key = np.concatenate(self._key)
        ts = np.concatenate(self._ts)
        h = np.concatenate(self._hash)
        if cutoff_ts is not None:
            keep = ts <= cutoff_ts
            key, ts, h = key[keep], ts[keep], h[keep]
        if key.size == 0:
            return 0, 0
        order = np.lexsort((ts, key))
        key, h = key[order], h[order]
        last = np.ones(key.size, dtype=bool)
        last[:-1] = key[1:] != key[:-1]
        return int(last.sum()), fold(int(x) for x in h[last].tolist())

    def batch_truth(self, batch: int) -> tuple[int, int]:
        """Checksum of every cell of one batch (what its export session
        captured: the version limit keeps every cell here)."""
        hs = self._hash[batch]
        return int(hs.size), fold(int(x) for x in hs.tolist())


# ---- analytics star schema ---------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(out_dir: str, rng: np.random.Generator, scale: float) -> int:
    """Write the ten analytics tables (``<out_dir>/<name>.parquet``) at
    roughly ``scale`` of TPC-H SF1; returns total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(30, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(40, int(200_000 * scale))
    n_ord = max(300, int(1_500_000 * scale))
    n_line = n_ord * 4
    n_docs, n_vecs, n_events = 400, 400, 4_000
    ts = lambda us: pa.array(us, pa.timestamp("us"))  # noqa: E731
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust
                ).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 7, n_part).tolist(), rng.integers(0, 7, n_part).tolist())
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part).tolist()],
                "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": ts(_EPOCH_1995_US + rng.integers(0, 2400, n_ord) * _DAY_US),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
                "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
                "l_shipdate": ts(_EPOCH_1995_US + rng.integers(0, 2500, n_line) * _DAY_US),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": ts(_EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, n_events))),
                "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
                "event_type": rng.choice(["error", "click", "view", "signup", "purchase"], n_events).tolist(),
                "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()],
            }
        ),
    }
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(8, 80))).tolist()]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "en", "zh", "es", "de", "fr"], n).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    label = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
