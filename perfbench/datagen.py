"""Seeded inputs for the benchmark.

``write_tables`` writes the ten TPC-H-like parquet tables every query
reads (``region nation customer supplier part orders lineitem events
documents embeddings``), with the same column names, types and value
domains as the engine's reference testdata. ``CdcScenario`` builds the
landing batches of the ``medallion_cdc`` workload and the silver and
gold state the pipeline must reach after them, in plain Python.

Everything is a pure function of the seed and the scale factor, so the
same seed gives byte-identical inputs.
"""

from __future__ import annotations

import csv
import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
#: Token and language frequencies of the reference testdata's documents.
_VOCAB_P = np.array([0.001 if w == "dup" else 1.0 for w in VOCAB])
_VOCAB_P /= _VOCAB_P.sum()
_LANG_P = np.array([0.14 if lang != "en" else 0.44 for lang in LANGS])

_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_SHIP_DAY0 = np.datetime64("1995-01-02", "D")
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _write(path: Path, cols: dict[str, object]) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf 1 = TPC-H SF1)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(50_000 * sf),
    }


def customer_columns(rng: np.random.Generator, keys: np.ndarray) -> dict[str, list]:
    n = len(keys)
    return {
        "c_custkey": keys.astype(np.int64),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }


def order_columns(
    rng: np.random.Generator, keys: np.ndarray, n_customers: int
) -> dict[str, object]:
    n = len(keys)
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, n_customers, n).astype(np.int64),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": (_ORDER_DAY0 + days).astype("datetime64[us]"),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def write_tables(out_dir: Path, seed: int, sf: float) -> None:
    """Write the ten query-input tables under ``out_dir``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    size = table_sizes(sf)

    _write(out_dir / "region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir / "nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir / "customer.parquet",
           customer_columns(rng, np.arange(size["customer"])))
    n = size["supplier"]
    _write(out_dir / "supplier.parquet", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = size["part"]
    keys = np.arange(n, dtype=np.int64)
    _write(out_dir / "part.parquet", {
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    _write(out_dir / "orders.parquet",
           order_columns(rng, np.arange(size["orders"]), size["customer"]))
    n = size["lineitem"]
    _write(out_dir / "lineitem.parquet", {
        "l_orderkey": rng.integers(0, size["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, size["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, size["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": (_SHIP_DAY0 + rng.integers(0, 2498, n)).astype("datetime64[us]"),
    })
    n = size["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    _write(out_dir / "events.parquet", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _EVENT_T0 + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, n // 66), n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    # Shaped like the reference testdata, whose near-dup graph the
    # curation ops iterate over: sources striped by doc_id (so the
    # blocking join finds about three candidates per doc), 10-99 tokens
    # drawn from VOCAB with "dup" rare, and "en" for about 44% of docs.
    n = size["documents"]
    lengths = rng.integers(10, 100, n)
    words = rng.choice(len(VOCAB), int(lengths.sum()), p=_VOCAB_P)
    texts, at = [], 0
    for m in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + m]))
        at += m
    _write(out_dir / "documents.parquet", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=_LANG_P)],
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n = size["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir / "embeddings.parquet", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


# -- medallion_cdc ----------------------------------------------------------

#: CDC tables: name -> (business key, column order of the landed CSV).
CDC_TABLES = {
    "customers": ("c_custkey", ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")),
    "orders": ("o_orderkey", ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")),
}
#: Tracked column an update may rewrite, per table, with its value domain.
_UPDATABLE = {
    "customers": (("c_mktsegment", SEGMENTS), ("c_acctbal", None)),
    "orders": (("o_orderstatus", ORDER_STATUS), ("o_orderpriority", PRIORITIES)),
}
CDC_T0 = dt.datetime(2025, 1, 1)


def _rows(cols: dict[str, object], names: tuple[str, ...]) -> list[tuple]:
    """Columns to rows of plain Python values, in ``names`` order."""
    return [tuple(v.item() if isinstance(v, np.generic) else v for v in values)
            for values in zip(*(cols[c] for c in names))]


@dataclass
class CdcScenario:
    """One initial load plus ``n_incremental`` CDC batches of customers
    and orders. Each incremental batch updates ``update_frac`` of the
    current keys (one tracked column each) and inserts ``insert_frac``
    new keys; batch ``replay_at`` re-lands the previous batch unchanged.

    ``expected_stats[i][table]`` is the SCD2 outcome of run ``i``;
    ``current``/``versions`` the silver state after the last run."""

    seed: int
    sf: float
    n_incremental: int = 2
    replay_at: int = 2
    update_frac: float = 0.02
    insert_frac: float = 0.01
    batches: list[dict[str, list[tuple]]] = field(default_factory=list)
    expected_stats: list[dict[str, dict[str, int]]] = field(default_factory=list)
    current: dict[str, dict[object, tuple]] = field(default_factory=dict)
    versions: dict[str, dict[object, int]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        rng = np.random.default_rng([self.seed, 2])
        size = table_sizes(self.sf)
        n_cust, n_ord = size["customer"], size["orders"]
        first = {
            "customers": _rows(customer_columns(rng, np.arange(n_cust)),
                               CDC_TABLES["customers"][1]),
            "orders": _rows(order_columns(rng, np.arange(n_ord), n_cust),
                            CDC_TABLES["orders"][1]),
        }
        self._apply(first)
        for i in range(1, self.n_incremental + 1):
            if i == self.replay_at:
                self._apply(self.batches[-1])
            else:
                self._apply(self._delta(rng))

    def _delta(self, rng: np.random.Generator) -> dict[str, list[tuple]]:
        batch = {}
        n_cust = len(self.current["customers"])
        for table, (_, names) in CDC_TABLES.items():
            cur = self.current[table]
            keys = np.array(sorted(cur))
            n_up = max(1, int(len(keys) * self.update_frac))
            rows = []
            for k, which in zip(rng.choice(keys, n_up, replace=False),
                                rng.integers(0, 2, n_up)):
                col, domain = _UPDATABLE[table][which]
                row = list(cur[k.item()])
                at = names.index(col)
                if domain is None:
                    row[at] = round(row[at] + 1.0 + float(rng.integers(0, 100)), 2)
                else:  # any value but the current one
                    step = 1 + int(rng.integers(0, len(domain) - 1))
                    row[at] = domain[(domain.index(row[at]) + step) % len(domain)]
                rows.append(tuple(row))
            n_new = max(1, int(len(keys) * self.insert_frac))
            new_keys = np.arange(len(keys), len(keys) + n_new)
            cols = (customer_columns(rng, new_keys) if table == "customers"
                    else order_columns(rng, new_keys, n_cust))
            rows += _rows(cols, names)
            batch[table] = rows
        return batch

    def _apply(self, batch: dict[str, list[tuple]]) -> None:
        stats = {}
        for table, rows in batch.items():
            cur = self.current.setdefault(table, {})
            ver = self.versions.setdefault(table, {})
            s = {"insert": 0, "update": 0, "no_change": 0}
            for row in rows:
                old = cur.get(row[0])
                if old is None:
                    s["insert"] += 1
                    ver[row[0]] = 1
                elif old != row:
                    s["update"] += 1
                    ver[row[0]] += 1
                else:
                    s["no_change"] += 1
                    continue
                cur[row[0]] = row
            stats[table] = s
        self.batches.append(batch)
        self.expected_stats.append(stats)

    def clock(self, run: int) -> dt.datetime:
        return CDC_T0 + dt.timedelta(hours=run)

    def land(self, root: Path) -> list[Path]:
        """Write run ``i``'s batch as ``root/run_<i>/<table>/<table>.csv``
        (one landing root per run); returns the landing roots."""
        roots = []
        for i, batch in enumerate(self.batches):
            run_root = root / f"run_{i:02d}"
            for table, rows in batch.items():
                d = run_root / table
                d.mkdir(parents=True, exist_ok=True)
                with open(d / f"{table}.csv", "w", newline="") as fh:
                    w = csv.writer(fh)
                    w.writerow(CDC_TABLES[table][1])
                    w.writerows(rows)
            roots.append(run_root)
        return roots

    def landed_rows(self) -> int:
        return sum(len(rows) for b in self.batches for rows in b.values())

    def expected_gold(self) -> dict[str, dict[tuple, tuple]]:
        """The two marts over the final current state: customers per
        segment, and orders/revenue per (segment, order status)."""
        cust = self.current["customers"]
        by_segment: dict[tuple, tuple] = {}
        for row in cust.values():
            n, = by_segment.get((row[4],), (0,))
            by_segment[(row[4],)] = (n + 1,)
        revenue: dict[tuple, tuple] = {}
        for row in self.current["orders"].values():
            c = cust.get(row[1])
            if c is None:
                continue
            k = (c[4], row[2])
            n, total = revenue.get(k, (0, 0.0))
            revenue[k] = (n + 1, total + row[3])
        return {"customers_by_segment": by_segment, "revenue_by_segment_status": revenue}
