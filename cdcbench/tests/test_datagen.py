"""Seeded generators: the same seed gives the same bytes; another seed gives
the same shape (row counts, op mix per batch, hot-key share).

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import collections
import hashlib
import json
import os

import pytest

from cdcbench import datagen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _feed(seed: int, root: str, n_keys: int = 5000, batches: int = 4):
    os.makedirs(root)
    feed = datagen.CdcFeed(seed, n_keys)
    seed_batch = feed.write_seed(os.path.join(root, "seed.json"))
    out = [feed.write_batch(os.path.join(root, f"b{i}.json")) for i in range(batches)]
    return feed, seed_batch, out


def _mix(path: str, hot: set[int]) -> dict:
    c = collections.Counter()
    for line in open(path):
        e = json.loads(line)
        kind = e["type"]
        if kind == "update" and "id" in e.get("old", {}):
            kind = "pk_change"
        elif kind == "update":
            c["hot_updates"] += e["data"]["id"] in hot
        c[kind] += 1
        c["ts_digits_" + kind] = len(str(e["ts"]))
    return dict(c)


def test_same_seed_same_bytes(tmp_path):
    _feed(7, str(tmp_path / "a"))
    _feed(7, str(tmp_path / "b"))
    datagen.write_tpch(7, 0.001, str(tmp_path / "a" / "tpch"))
    datagen.write_tpch(7, 0.001, str(tmp_path / "b" / "tpch"))
    datagen.write_corpus(7, str(tmp_path / "a" / "corpus"), 200, 100)
    datagen.write_corpus(7, str(tmp_path / "b" / "corpus"), 200, 100)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a == b and len(a) == 1 + 4 + 7 + 2


@pytest.mark.parametrize("seeds", [(1, 2), (3, 99)])
def test_other_seed_same_shape(tmp_path, seeds):
    shapes = []
    for s in seeds:
        feed, seed_batch, batches = _feed(s, str(tmp_path / str(s)))
        hot = set(int(k) for k in feed.hot)
        mixes = [_mix(b.path, hot) for b in batches]
        tpch = datagen.write_tpch(s, 0.001, str(tmp_path / str(s) / "tpch"))
        corpus = datagen.write_corpus(s, str(tmp_path / str(s) / "corpus"), 200, 100)
        shapes.append((seed_batch.n_dml, [b.live_after for b in batches], mixes, tpch, corpus))
    assert shapes[0] == shapes[1]
    mix = shapes[0][2][0]
    assert mix["update"] == datagen.BATCH_UPDATES and mix["insert"] == datagen.BATCH_INSERTS
    assert mix["delete"] == datagen.BATCH_DELETES and mix["pk_change"] == datagen.BATCH_PK_CHANGES
    assert mix["table-alter"] == datagen.BATCH_DDL
    assert mix["hot_updates"] >= int(datagen.BATCH_UPDATES * datagen.HOT_UPDATE_SHARE)
    # DML carries 10-digit second timestamps, DDL 13-digit milliseconds
    assert mix["ts_digits_update"] == 10 and mix["ts_digits_table-alter"] == 13


def test_feed_replays_cleanly(tmp_path):
    """Every update and delete names a live key and every insert a new one,
    so no event of the feed fails when replayed in order."""
    _, seed_batch, batches = _feed(5, str(tmp_path / "f"), n_keys=2000, batches=6)
    live = set(range(2000))
    xids = []
    for b in [seed_batch, *batches]:
        for line in open(b.path):
            e = json.loads(line)
            xids.append(e["xid"])
            if e["type"] == "table-alter":
                continue
            pk = e["data"]["id"]
            if e["type"] == "insert" and b is not seed_batch:
                assert pk not in live
                live.add(pk)
            elif e["type"] == "delete":
                live.remove(pk)
            elif "id" in e.get("old", {}):
                live.remove(e["old"]["id"])
                assert pk not in live
                live.add(pk)
            elif e["type"] == "update":
                assert pk in live
        assert len(live) == b.live_after
    assert xids == sorted(set(xids))
