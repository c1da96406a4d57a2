"""Deterministic input generators for the benchmark.

Two kinds of input:

- :func:`write_lake` writes the read-only TPC-H-style lake the named
  queries read (``region nation customer supplier part orders lineitem
  events documents embeddings``, one parquet file each) at a scale
  factor. The tables depend on the scale factor only, never on the
  workload seed, so the stored result digests stay valid for every seed.
- :class:`IngestInputs` makes the ``lake_ingest_cdc`` inputs from the
  workload seed: one day of events per cycle (with injected bad rows)
  and one upstream change per cycle against a keyed orders snapshot.

Everything here is numpy + pyarrow; no Spark, so the same seed gives
byte-identical files on any run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: base-lake seed — fixed, so expected digests do not depend on --seed
LAKE_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _ts(days_from: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    words = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.06:  # near duplicate: a few words changed
            src = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src))
            continue
        toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        if rng.random() < 0.05:
            toks.append("dup")
        texts.append(" ".join(toks))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def _events(rng: np.random.Generator, n: int, n_users: int, start: str, span_us: int) -> dict:
    gaps = rng.exponential(span_us / n, n)
    off = np.minimum(np.cumsum(gaps), span_us - 1).astype(np.int64)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(start, off),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_lake(out_dir: str, sf: float) -> None:
    """Write the query lake at scale factor ``sf``.

    Sizes follow the TPC-H ratios (sf0.01: lineitem 60k, orders 15k,
    customer 1.5k, part 2k, supplier 100, events 10k); documents and
    embeddings have floors of 500 and 2000 rows.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(LAKE_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = 2000

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * _DAY_US),
    })
    _write(out_dir, "events", _events(rng, n_ev, n_users, "2024-01-01", 30 * _DAY_US))
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))


ORDER_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
])
ORDER_COLS = ORDER_SCHEMA.names


def _write_orders(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=ORDER_SCHEMA, preserve_index=False), path)


class IngestInputs:
    """Seeded inputs of the ``lake_ingest_cdc`` workload.

    ``state`` is the expected upstream orders table (the benchmark's own
    model of the keyed snapshot); every :meth:`change` call advances it by
    exactly the change it writes, so upstream can be checked against it.
    The same seed and the same sequence of calls give byte-identical files.
    """

    def __init__(self, seed: int, orders_path: str, out_dir: str,
                 events_per_day: int = 4000, users: int = 300):
        self.seed = seed
        self.out_dir = out_dir
        self.events_per_day = events_per_day
        self.users = users
        os.makedirs(out_dir, exist_ok=True)
        self.state = pq.read_table(orders_path).to_pandas()[ORDER_COLS]
        self.next_key = int(self.state.o_orderkey.max()) + 1

    def ds(self, c: int) -> str:
        return (dt.date(2024, 3, 1) + dt.timedelta(days=c)).isoformat()

    def _rng(self, c: int, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, c, stream])

    def events(self, c: int) -> tuple[str, int]:
        """One day of events for cycle ``c`` with injected bad rows: 2%
        NULL ``user_id`` and 1% unknown ``event_type``. Returns the file
        path and the number of rows with either."""
        rng = self._rng(c, 0)
        n = self.events_per_day
        cols = _events(rng, n, self.users, self.ds(c), _DAY_US)
        cols["event_id"] = pa.array(np.arange(n, dtype=np.int64) + c * 1_000_000)
        null_mask = np.zeros(n, bool)
        null_mask[rng.choice(n, n // 50, replace=False)] = True
        bad_mask = np.zeros(n, bool)
        bad_mask[rng.choice(n, n // 100, replace=False)] = True
        users = cols["user_id"].to_numpy(zero_copy_only=False)
        cols["user_id"] = pa.array(users, mask=null_mask)
        types = np.array(cols["event_type"].to_pylist(), dtype=object)
        types[bad_mask] = "unknown_" + str(c)
        cols["event_type"] = pa.array(types.tolist())
        path = os.path.join(self.out_dir, f"events_c{c:03d}.parquet")
        pq.write_table(pa.table(cols), path)
        return path, int((null_mask | bad_mask).sum())

    def change(self, c: int, restate: bool) -> dict:
        """The upstream change of cycle ``c``.

        Delta cycles: ``{"kind": "delta", "upserts": path, "delete_where":
        sql, "n_upserts": .., "n_deleted": ..}`` — one merge (updates of
        existing keys plus brand-new keys) and one predicate delete.
        Restatement cycles: ``{"kind": "restate", "table": path,
        "n_changed": ..}`` — the full table rewritten with a few rows
        changed. ``state`` is advanced either way.
        """
        rng = self._rng(c, 1)
        st = self.state
        if restate:
            new = st.copy()
            idx = rng.choice(len(new), max(1, len(new) // 50), replace=False)
            new.loc[new.index[idx], "o_totalprice"] = _money(rng, 1000.0, 500000.0, len(idx))
            new = new.sort_values("o_orderkey").reset_index(drop=True)
            self.state = new
            path = os.path.join(self.out_dir, f"restate_c{c:03d}.parquet")
            _write_orders(new, path)
            return {"kind": "restate", "table": path, "n_changed": len(idx)}
        n_up = n_new = 250
        idx = rng.choice(len(st), n_up, replace=False)
        upd = st.iloc[idx].copy()
        upd["o_totalprice"] = _money(rng, 1000.0, 500000.0, n_up)
        upd["o_orderstatus"] = rng.choice(["F", "O", "P"], n_up)
        keys = np.arange(self.next_key, self.next_key + n_new, dtype=np.int64)
        self.next_key += n_new
        ins = pd.DataFrame({
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, 1500, n_new).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_new),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_new),
            "o_orderdate": pd.to_datetime(
                np.datetime64("2001-08-02", "us") + rng.integers(0, 30, n_new) * np.timedelta64(1, "D")
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_new),
        })
        batch = pd.concat([upd, ins], ignore_index=True)
        batch = batch.sort_values("o_orderkey").reset_index(drop=True)
        path = os.path.join(self.out_dir, f"upserts_c{c:03d}.parquet")
        _write_orders(batch, path)
        merged = pd.concat([st[~st.o_orderkey.isin(batch.o_orderkey)], batch], ignore_index=True)
        mod, rem = 97, int(rng.integers(0, 97))
        pred = f"o_custkey % {mod} = {rem} AND o_orderstatus = 'F'"
        dead = (merged.o_custkey % mod == rem) & (merged.o_orderstatus == "F")
        self.state = merged[~dead].sort_values("o_orderkey").reset_index(drop=True)
        return {
            "kind": "delta", "upserts": path, "delete_where": pred,
            "n_upserts": len(batch), "n_deleted": int(dead.sum()),
        }
