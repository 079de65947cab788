"""Seeded input generator: everything the program under test reads.

Only numpy and pyarrow are used here, never the package, so the inputs do
not depend on the code being measured. The same seed gives byte-identical
inputs.

* ``write_source`` writes a source database shaped like the package's
  fixtures (FIXTURES.md schemas, key ranges and value domains; row counts
  scale with ``sf`` as the fixtures do). Each table is a directory
  ``<name>.parquet/`` holding ``part-0.parquet``, so a resume delta can be
  added next to it as one more file.
* ``resume_delta`` builds, per table, rows sampled from the table itself
  with the ``_rowid`` key shifted past ``max_id`` (same schema).
* ``ChangeFeed`` produces Debezium envelope lines for the CDC workload and
  keeps the latest-per-key reference state the stream must converge to.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf=1 (FIXTURES.md: counts scale linearly; dims are fixed).
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
ROWID = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
TABLES = tuple(ROWID)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["large", "hot", "cold", "small", "shiny", "dark", "pale", "brushed"]
_PNOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
_TS = pa.timestamp("us")


def _n(name: str, sf: float) -> int:
    return max(1, int(round(BASE_ROWS[name] * sf)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return pa.array(epoch_us + days.astype(np.int64) * 86_400 * 10**6, _TS)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    nc = _n("customer", sf)
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = _n("supplier", sf)
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = _n("part", sf)
    pk = np.arange(npart, dtype=np.int64)
    pnames = np.array([f"{a} {b}" for a in _PADJ for b in _PNOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pnames[rng.integers(0, len(pnames), npart)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, npart)
            ],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    no = _n("orders", sf)
    odays = rng.integers(0, 2405, no)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(dt.datetime(1995, 1, 1), odays),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(
                dt.datetime(1995, 1, 1),
                np.repeat(odays, lines) + rng.integers(1, 122, nl),
            ),
        }
    )
    t["events"] = make_events(rng, _n("events", sf), max(1, int(15_000 * sf)))
    nd = _n("documents", sf)
    texts = [
        " ".join(rng.choice(_WORDS, rng.integers(10, 100)))
        for _ in range(nd)
    ]
    # ~1% exact copies and ~3% one-word edits, so the dedup queries find
    # pairs as they do on the fixtures.
    for i in rng.choice(nd, max(1, nd // 100), replace=False):
        texts[i] = texts[rng.integers(0, nd)]
    for i in rng.choice(nd, max(1, nd // 33), replace=False):
        words = texts[rng.integers(0, nd)].split()
        words[rng.integers(0, len(words))] = "dup"
        texts[i] = " ".join(words)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), nd)],
            "source": np.array([f"src{i}" for i in range(20)])[
                np.arange(nd) % 20
            ],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    ne = _n("embeddings", sf)
    label = rng.integers(0, 10, ne)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[label] + rng.normal(0.0, 0.8, (ne, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(ne, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return t


def make_events(rng, n: int, n_users: int) -> pa.Table:
    # Distinct, id-ordered event times over January 2024 (as the fixture).
    step = EVENTS_SPAN_US // n
    ts = np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)
    epoch_us = int((EVENTS_T0 - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(epoch_us + ts, _TS),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def table_dir(src: str, name: str) -> str:
    return os.path.join(src, f"{name}.parquet")


def write_source(
    src: str, tables: dict[str, pa.Table], names=TABLES
) -> None:
    for name in names:
        os.makedirs(table_dir(src, name), exist_ok=True)
        pq.write_table(
            tables[name], os.path.join(table_dir(src, name), "part-0.parquet")
        )


def resume_delta(
    seed: int, tables: dict[str, pa.Table], names, frac: float
) -> dict[str, pa.Table]:
    """For each named table: ``ceil(frac * rows)`` of its own rows with the
    key shifted past the table's max key, so a resume appends exactly
    these rows."""
    rng = np.random.default_rng(seed)
    out = {}
    for name in names:
        tab, key = tables[name], ROWID[name]
        n = max(1, int(np.ceil(frac * tab.num_rows)))
        rows = tab.take(np.sort(rng.choice(tab.num_rows, n, replace=False)))
        col = rows.column(key)
        mx = np.asarray(tab.column(key)).max()
        shifted = pa.array(np.asarray(col) + mx + 1, col.type)
        out[name] = rows.set_column(rows.schema.get_field_index(key), key, shifted)
    return out


def key_stats(tab: pa.Table, key: str) -> tuple[int, int, int]:
    k = np.asarray(tab.column(key))
    return int(k.min()), int(k.max()), int(len(k))


class ChangeFeed:
    """Seeded Debezium change stream over an events table.

    Each batch has ``size`` changes: 10% deletes, 20% upserts whose
    version (``ts``) is older than the stored one (out of order, so the
    merge must drop them), 5% upserts of brand-new keys, and in-order
    updates of uniformly chosen existing keys for the rest. Versions are
    unique per key, so latest-per-key has no ties.

    ``state`` is the reference: key -> (ts_us, is_delete, row). It is kept
    with plain dicts, independently of the package's merge code."""

    P_DELETE, P_OLD, P_NEW = 0.10, 0.20, 0.05

    def __init__(self, seed: int, events: pa.Table, size: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.size = size
        cols = events.to_pydict()
        ts = np.asarray(events.column("ts").cast(pa.int64()))
        self.state: dict[int, tuple[int, bool, dict]] = {}
        for i, k in enumerate(cols["event_id"]):
            row = {c: cols[c][i] for c in cols if c != "ts"}
            self.state[k] = (int(ts[i]), False, row)
        self.n_keys = len(self.state)
        self.next_key = max(self.state) + 1
        self.clock = int(ts.max()) + 1_000_000
        self.n_users = int(np.asarray(events.column("user_id")).max()) + 1

    def _row(self, key: int, ts_us: int) -> dict:
        r = self.rng
        return {
            "event_id": key,
            "ts": _fmt_ts(ts_us),
            "user_id": int(r.integers(0, self.n_users)),
            "event_type": _EVENT_TYPES[int(r.integers(0, 5))],
            "value": round(float(r.exponential(50.0)) + 0.01, 2),
            "props": f'{{"k": {int(r.integers(0, 100))}}}',
        }

    def batch(self, file_name: str) -> tuple[list[str], list[int]]:
        """One batch of envelope lines plus the keys it touched."""
        lines, keys = [], []
        u = self.rng.random(self.size)
        for pos in range(self.size):
            if u[pos] < self.P_NEW:
                key = self.next_key
                self.next_key += 1
            else:
                key = int(self.rng.integers(0, self.n_keys))
            old = self.P_NEW <= u[pos] < self.P_NEW + self.P_OLD
            if old:
                ts_us = self.state[key][0] - int(self.rng.integers(1, 10**6))
            else:
                self.clock += 1
                ts_us = self.clock
            delete = u[pos] >= 1.0 - self.P_DELETE
            row = self._row(key, ts_us)
            env = {
                "before": row if delete else None,
                "after": None if delete else row,
                "op": "d" if delete else "u",
                "ts_ms": ts_us // 1000,
                "source": {"file": file_name, "pos": pos},
            }
            lines.append(json.dumps(env))
            keys.append(key)
            if not old:
                stored = {c: v for c, v in row.items() if c != "ts"}
                self.state[key] = (ts_us, delete, stored)
        return lines, keys

    def live(self) -> dict[int, tuple[int, dict]]:
        return {
            k: (ts, row) for k, (ts, dead, row) in self.state.items() if not dead
        }


def _fmt_ts(ts_us: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ts_us)
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


def events_table(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng(seed)
    return make_events(rng, _n("events", sf), max(1, int(15_000 * sf)))


def query_order(seed: int, names: list[str]):
    """Endless passes over ``names``, each in a fresh seeded order."""
    rng = np.random.default_rng(seed)
    while True:
        yield [str(n) for n in rng.permutation(names)]
