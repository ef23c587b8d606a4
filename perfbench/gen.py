"""Seeded inputs: the symbol universe, the feed schedule, subscriber
configs and the batch tables.

Everything here is a pure function of the seed (plus, for frame
timestamps, the wall-clock base the run starts at), so two runs with
one seed offer the engine the same frames, configs and tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np

N_SYMBOLS = 500
ZIPF_S = 0.8
EXCHANGES = ("nse", "mcx", "cepe", "gift", "comex", "other", "forex",
             "crypto", "usstock")
PAYLOAD_FIELDS = ("bid", "ask", "ltp", "volume")


class Universe:
    """500 symbols with exchanges and Zipf-like weights 1/rank^0.8; which
    symbol holds which rank is drawn from the seed."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.names = [f"SYM{i:03d}" for i in range(N_SYMBOLS)]
        self.exchange = {n: EXCHANGES[rng.randrange(len(EXCHANGES))]
                         for n in self.names}
        ranks = list(range(1, N_SYMBOLS + 1))
        rng.shuffle(ranks)
        w = np.array([1.0 / r ** ZIPF_S for r in ranks])
        self.weights = w / w.sum()
        self.base_price = {n: round(rng.uniform(5.0, 5000.0), 2)
                           for n in self.names}

    def by_rank(self) -> list[str]:
        """Symbols from most to least frequent."""
        order = np.argsort(-self.weights, kind="stable")
        return [self.names[i] for i in order]


class Feed:
    """The frame sequence. Frame ``seq`` carries symbol ``sym[seq]``, the
    unique event timestamp ``ts0 + seq * spacing_ms`` and a payload drawn
    from the seed; ``preload`` frames (one per symbol, in symbol order)
    come first."""

    def __init__(self, seed: int, universe: Universe, n_frames: int,
                 preload: int, spacing_ms: int, ts0: int):
        rng = np.random.default_rng(seed)
        n_live = max(0, n_frames - preload)
        live = rng.choice(N_SYMBOLS, size=n_live, p=universe.weights)
        self.sym = np.concatenate([np.arange(preload) % N_SYMBOLS, live])
        self.noise = rng.normal(0.0, 0.002, size=(n_frames, 3))
        self.volume = rng.integers(1, 100_000, size=n_frames)
        self.universe = universe
        self.spacing_ms = spacing_ms
        self.ts0 = ts0
        self.preload = preload

    def __len__(self) -> int:
        return len(self.sym)

    def name(self, seq: int) -> str:
        return self.universe.names[int(self.sym[seq])]

    def timestamp(self, seq: int) -> int:
        return self.ts0 + seq * self.spacing_ms

    def seq_of(self, ts: int) -> int:
        return (ts - self.ts0) // self.spacing_ms

    def payload(self, seq: int) -> dict:
        p = self.universe.base_price[self.name(seq)]
        ltp = round(p * (1.0 + self.noise[seq, 0]), 4)
        bid = round(ltp * (1.0 - abs(self.noise[seq, 1])) - 0.0001, 4)
        ask = round(ltp * (1.0 + abs(self.noise[seq, 2])) + 0.0001, 4)
        return {"bid": bid, "ask": ask, "ltp": ltp,
                "volume": float(self.volume[seq]) + 0.5}

    def frame(self, seq: int, due_ms: float) -> str:
        """The wire frame; its payload carries the frame's due time."""
        return json.dumps({"name": self.name(seq),
                           "timestamp": self.timestamp(seq),
                           "exchange": None,
                           "data": {"data": {**self.payload(seq),
                                             "due_ms": due_ms}}})


def _symbol_config(rng: random.Random, rename_to: str) -> dict:
    ops = ("add", "subtract", "multiply", "divide")
    return {
        "value_rules": {
            f: {"op": rng.choice(ops), "value": round(rng.uniform(0.5, 2.0), 3)}
            for f in ("bid", "ask")},
        "rename_fields": {"ltp": rename_to},
    }


def subscriber_configs(seed: int, universe: Universe, workload: str
                       ) -> list[dict | None]:
    """One config per subscriber connection (None = passthrough).

    live_mixed: 3 subscribers sharing 2 distinct configs — passthrough
    and one 8-symbol value-rule/rename config (two clients carry it).
    serve_wide: 3 subscribers, each with its own config over all 500
    symbols (above the serve path's join threshold)."""
    rng = random.Random(seed * 7919 + 1)
    if workload == "live_mixed":
        top = universe.by_rank()[:8]
        cfg = {"symbols": {s: _symbol_config(rng, "last_price") for s in top}}
        return [None, cfg, cfg]
    if workload == "serve_wide":
        return [{"symbols": {s: _symbol_config(rng, f"last_{k}")
                             for s in universe.names}} for k in range(3)]
    return []


def api_key(i: int) -> str:
    return f"perfbench-key-{i}"


def key_hash(key: str) -> str:
    return hashlib.sha256(key.encode()).hexdigest()


# ---------------------------------------------------------------- batch


STRUCTURE_SEED = 20_240_101  # fixes the batch tables' work, see below
VOCAB = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line sort window order data column join small "
         "customer query filter group big stream vector").split()


def write_batch_tables(seed: int, out_dir: str, sf: float) -> dict:
    """lineitem, events, documents and embeddings at scale factor ``sf``
    (row counts proportional to the engine's sf0.01 fixture tables),
    shaped like those tables.

    The seed draws every value, but not the structure that sets how much
    work a query does: the embedding pair graph (and so the connected-
    component rounds) and the near-duplicate document pairs come from a
    fixed structure seed. The seed rotates the embedding space (cosines
    are unchanged) and relabels the vocabulary (Jaccard is unchanged).
    Held-out near-duplicates sit at Jaccard well above the 0.6
    threshold and unrelated pairs far below it, so the banded MinHash
    check and its exact oracle agree."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    shape = np.random.default_rng(STRUCTURE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    k = sf / 0.01
    counts = {"lineitem": int(60_000 * k), "events": int(10_000 * k),
              "documents": int(500 * k), "embeddings": int(500 * k)}

    n = counts["lineitem"]
    day0 = np.datetime64("1992-01-01", "us")
    ship = day0 + rng.integers(0, 365 * 9, size=n).astype("timedelta64[D]")
    li = pa.table({
        "l_orderkey": pa.array(rng.integers(1, max(2, n // 4), size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_000, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_000, size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 100_000.0, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    pq.write_table(li, os.path.join(out_dir, "lineitem.parquet"))

    n = counts["events"]
    t0 = datetime.datetime(2024, 1, 1)
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, size=n))
    ev = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array((np.datetime64(t0, "us") + ts_us.astype("timedelta64[us]"))),
        "user_id": pa.array(rng.integers(0, max(10, n // 66), size=n), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], size=n)),
        "value": pa.array(np.round(rng.uniform(0.0, 100.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })
    pq.write_table(ev, os.path.join(out_dir, "events.parquet"))

    n = counts["documents"]
    words = [list(shape.integers(0, len(VOCAB), size=int(shape.integers(30, 80))))
             for _ in range(n)]
    for d in range(0, n, 20):  # held-out docs: every 20th id
        if shape.random() < 0.5:
            src = int(shape.integers(0, n))
            if src % 20 == 0:
                src = (src + 1) % n
            copy = list(words[src])
            copy[int(shape.integers(0, len(copy)))] = int(shape.integers(0, len(VOCAB)))
            words[d] = copy
    vocab = [VOCAB[i] for i in rng.permutation(len(VOCAB))]
    texts = [" ".join(vocab[w] for w in ws) for ws in words]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], size=n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    n = counts["embeddings"]
    emb = shape.normal(0.0, 1.0, size=(n, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    rotation, _ = np.linalg.qr(rng.normal(size=(64, 64)))
    emb = (emb @ rotation).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })
    pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"))
    return counts
