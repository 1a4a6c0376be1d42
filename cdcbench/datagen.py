"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``seed`` and writes files whose bytes depend only
on that seed and the fixed shape constants below. The seed changes values
and keys; row counts, the op mix of each feed batch and the skew of the
key choice are constants, so every seed exercises the same amount of work.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- CDC feed ---------------------------------------------------------------

# Per-batch op mix (counts, not shares, so every batch is identical in shape).
BATCH_UPDATES = 1400  # 70 %, of which HOT_UPDATE_SHARE hit the hot fifth
BATCH_INSERTS = 300  # 15 %
BATCH_DELETES = 200  # 10 %
BATCH_PK_CHANGES = 60  # 3 %: update whose `old.id` differs from `data.id`
BATCH_DDL = 40  # 2 %: archived, never applied
BATCH_EVENTS = BATCH_UPDATES + BATCH_INSERTS + BATCH_DELETES + BATCH_PK_CHANGES + BATCH_DDL
HOT_UPDATE_SHARE = 0.8
HOT_FRACTION = 0.2
# Events per second of source time: DML carries 10-digit second ts, so
# several events share a second and `xid` decides the replay order.
EVENTS_PER_SECOND = 8
TS_BASE = 1_700_000_000
DB, TABLE = "shop", "orders"
_NAMES = np.array(["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel"])


def _row(pk: int, rng_vals: tuple[int, int, int]) -> dict:
    qty, price, name = rng_vals
    return {"id": pk, "qty": qty, "price": f"{price // 100}.{price % 100:02d}", "name": str(_NAMES[name])}


def _line(op: str, ts: int, xid: int, data: dict | None, old: dict | None = None, sql: str | None = None) -> str:
    env = {"database": DB, "table": TABLE, "type": op, "ts": ts, "xid": xid, "commit": True}
    if data is not None:
        env["data"] = data
    if old is not None:
        env["old"] = old
    if sql is not None:
        env["sql"] = sql
    return json.dumps(env, separators=(",", ":"))


@dataclass
class FeedBatch:
    """One feed file plus what applying it must leave in the replica."""

    path: str
    n_dml: int  # events the replica applies (DML lines)
    n_lines: int  # all lines, DDL included
    max_dml_ts: int  # the watermark after this batch (10-digit seconds)
    live_after: int  # live keys in the replica once this batch is applied
    # pk -> (xid, qty) of the key's latest event, or None if it ends deleted
    touched: dict[int, tuple[int, int] | None] = field(repr=False, default_factory=dict)


class CdcFeed:
    """Seed replica plus a backlog of Maxwell JSON feed files.

    The live key set is tracked so every update and delete names a key that
    exists when the event is replayed, and every insert a key that does not.
    """

    def __init__(self, seed: int, n_keys: int):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.next_pk = n_keys
        self.live = n_keys
        self.xid = 1
        self.sec = 0
        self.pos_in_sec = 0
        # live keys are split into a hot fifth (never deleted) and a cold rest
        n_hot = int(n_keys * HOT_FRACTION)
        perm = self.rng.permutation(n_keys)
        self.hot = np.sort(perm[:n_hot])
        self.cold = list(np.sort(perm[n_hot:]))
        self.cold_pos = {int(k): i for i, k in enumerate(self.cold)}

    def _tick(self) -> int:
        ts = TS_BASE + self.sec
        self.pos_in_sec += 1
        if self.pos_in_sec == EVENTS_PER_SECOND:
            self.pos_in_sec = 0
            self.sec += 1
        return ts

    def _vals(self) -> tuple[int, int, int]:
        return (int(self.rng.integers(1, 1000)), int(self.rng.integers(100, 1_000_000)), int(self.rng.integers(0, len(_NAMES))))

    def _drop_cold(self, k: int) -> None:
        i = self.cold_pos.pop(k)
        last = self.cold.pop()
        if i < len(self.cold):
            self.cold[i] = last
            self.cold_pos[int(last)] = i

    def _add_cold(self, k: int) -> None:
        self.cold_pos[k] = len(self.cold)
        self.cold.append(k)

    def write_seed(self, path: str) -> FeedBatch:
        """The initial load: one insert per key, replayed as the first batch."""
        vals = np.stack(
            [
                self.rng.integers(1, 1000, self.n_keys),
                self.rng.integers(100, 1_000_000, self.n_keys),
                self.rng.integers(0, len(_NAMES), self.n_keys),
            ],
            axis=1,
        )
        ts = TS_BASE - 1  # the whole initial load precedes the feed
        # the same envelope _line() builds, formatted directly: json.dumps
        # per line would dominate set-up at a million keys
        head = f'{{"database":"{DB}","table":"{TABLE}","type":"insert","ts":{ts},"xid":'
        with open(path, "w") as f:
            for pk, (q, p, n) in enumerate(vals.tolist()):
                f.write(
                    f'{head}{self.xid + pk},"commit":true,"data":{{"id":{pk},"qty":{q},'
                    f'"price":"{p // 100}.{p % 100:02d}","name":"{_NAMES[n]}"}}}}\n'
                )
        self.xid += self.n_keys
        return FeedBatch(path, self.n_keys, self.n_keys, ts, self.live)

    def write_batch(self, path: str) -> FeedBatch:
        """One feed file with the fixed op mix, events in replay order."""
        rng = self.rng
        n_hot_upd = int(BATCH_UPDATES * HOT_UPDATE_SHARE)
        n_cold_upd = BATCH_UPDATES - n_hot_upd
        # distinct cold keys for cold updates, deletes and PK changes, so a
        # key is never touched after it left the replica in the same batch
        picks = rng.choice(len(self.cold), n_cold_upd + BATCH_DELETES + BATCH_PK_CHANGES, replace=False)
        cold_keys = [int(self.cold[i]) for i in picks]
        kinds = (
            ["hot_update"] * n_hot_upd
            + ["cold_update"] * n_cold_upd
            + ["insert"] * BATCH_INSERTS
            + ["delete"] * BATCH_DELETES
            + ["pk_change"] * BATCH_PK_CHANGES
            + ["ddl"] * BATCH_DDL
        )
        order = rng.permutation(len(kinds))
        hot_keys = self.hot[rng.integers(0, len(self.hot), n_hot_upd)]
        hot_i = cold_i = 0
        cold_upd = cold_keys[:n_cold_upd]
        cold_del = cold_keys[n_cold_upd : n_cold_upd + BATCH_DELETES]
        cold_pkc = cold_keys[n_cold_upd + BATCH_DELETES :]
        del_i = pkc_i = 0
        touched: dict[int, tuple[int, int] | None] = {}
        max_ts = 0
        lines = []
        for j in order:
            kind = kinds[j]
            ts = self._tick()
            xid = self.xid
            self.xid += 1
            if kind == "ddl":
                # DDL carries a 13-digit millisecond ts, like Maxwell
                sql = f"ALTER TABLE {TABLE} ADD COLUMN c{xid} INT"
                lines.append(_line("table-alter", ts * 1000 + int(rng.integers(0, 1000)), xid, None, sql=sql))
                continue
            max_ts = max(max_ts, ts)
            v = self._vals()
            if kind == "hot_update":
                k = int(hot_keys[hot_i])
                hot_i += 1
                lines.append(_line("update", ts, xid, _row(k, v), old={"qty": int(rng.integers(1, 1000))}))
            elif kind == "cold_update":
                k = cold_upd[cold_i]
                cold_i += 1
                lines.append(_line("update", ts, xid, _row(k, v), old={"qty": int(rng.integers(1, 1000))}))
            elif kind == "insert":
                k = self.next_pk
                self.next_pk += 1
                self._add_cold(k)
                lines.append(_line("insert", ts, xid, _row(k, v)))
            elif kind == "delete":
                k = cold_del[del_i]
                del_i += 1
                self._drop_cold(k)
                lines.append(_line("delete", ts, xid, _row(k, v)))
                touched[k] = None
                continue
            else:  # PK-changing update: old key leaves, new key arrives
                old_k = cold_pkc[pkc_i]
                pkc_i += 1
                k = self.next_pk
                self.next_pk += 1
                self._drop_cold(old_k)
                self._add_cold(k)
                touched[old_k] = None
                lines.append(_line("update", ts, xid, _row(k, v), old={"id": old_k}))
            touched[k] = (xid, v[0])
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        self.live += BATCH_INSERTS - BATCH_DELETES
        return FeedBatch(path, BATCH_EVENTS - BATCH_DDL, BATCH_EVENTS, max_ts, self.live, touched)


# --- TPC-H-shaped star schema ---------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["red", "new", "hot", "small", "cold", "large", "blue", "green"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


def write_tpch(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """The star schema the `plans.tpch` queries read, at scale `sf`.

    Table shapes follow the engine's test data: 150k orders and 600k
    lineitem rows per unit of sf, uniform keys, 1995-2001 dates.
    Returns the row count per table.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5), i32), "r_name": _REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
                "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _cents(rng, -99_999, 1_000_000, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": np.char.add(
                    np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
                    np.array(_NOUN)[rng.integers(0, 8, n_part)],
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": (90_000 + np.arange(n_part) % 1000 * 10) / 100.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
                "o_orderdate": _EPOCH_1995 + rng.integers(0, 2405, n_ord).astype("timedelta64[D]"),
                "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    part = rng.integers(0, n_part, n_line)
    price = (90_000 + part % 1000 * 10) / 100.0
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)), i64),
            "l_partkey": pa.array(part, i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price, 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _EPOCH_1995 + rng.integers(1, 2500, n_line).astype("timedelta64[D]"),
        }
    )
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- Curation corpus ----------------------------------------------------------

_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge order part"
    " query row scan slow small sort spark stream table the value vector window".split()
)
DIM = 64
DUP_SHARE = 0.05  # planted near-duplicate documents and vectors


def write_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> dict[str, int]:
    """One corpus snapshot: documents and 64-d unit embeddings with planted
    near-duplicates (a copy with a few words or coordinates perturbed)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_dup = int(n_docs * DUP_SHARE)
    lengths = rng.integers(10, 101, n_docs)
    docs = [list(_WORDS[rng.integers(0, len(_WORDS), n)]) for n in lengths]
    for i, src in zip(range(n_docs - n_dup, n_docs), rng.integers(0, n_docs - n_dup, n_dup)):
        d = list(docs[src])
        for j in rng.integers(0, len(d), max(1, len(d) // 20)):
            d[j] = "dup"
        docs[i] = d
    text = [" ".join(d) for d in docs]
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": text,
                "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, n_docs)],
                "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
                "n_chars": pa.array([len(t) for t in text], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    n_vdup = int(n_vecs * DUP_SHARE)
    x = rng.standard_normal((n_vecs, DIM))
    src = rng.integers(0, n_vecs - n_vdup, n_vdup)
    x[n_vecs - n_vdup :] = x[src] + 0.05 * rng.standard_normal((n_vdup, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM).cast(pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {"documents": n_docs, "embeddings": n_vecs}
