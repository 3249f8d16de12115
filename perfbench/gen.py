"""Seeded input generators.

Envelopes are a pure function of ``(seed, index)``: every field of
envelope ``i`` comes from a counter-based hash of the seed and ``i``,
so any index range can be generated on its own, in any order, and the
correctness gates can regenerate exactly what the timed phase sent.
The curation dataset is a pure function of the seed. The program under
test only ever sees the generated rows, never the seed.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np

EVENT_TYPES = np.array(["click", "purchase", "signup", "view"])
# Values outside the landing contract: an unknown type, and cents
# outside [1, 40000].
BAD_EVENT_TYPE = "error"
MAX_CENTS = 40_000

def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def uniform(seed: int, stream: int, idx: np.ndarray) -> np.ndarray:
    """U[0, 1) per index, independent across (seed, stream)."""
    base = _mix(np.array([(seed * 1_000_003 + stream) & 0xFFFFFFFFFFFFFFFF],
                         dtype=np.uint64))[0]
    z = _mix(idx.astype(np.uint64) ^ base)
    return (z >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))


@dataclass(frozen=True)
class StreamParams:
    """Shape of one envelope stream. ``rate`` is envelopes per second of
    the virtual schedule; ``n_keys`` the key space of the first
    integration (the second gets ``n_keys_b``)."""

    rate: float
    n_keys: int
    n_keys_b: int
    share_b: float
    zipf_s: float
    redelivery: float
    out_of_order: float
    max_lag_s: float
    # epoch micros of index 0's due time
    base_us: int = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


class ZipfKeys:
    """Inverse-CDF Zipf draw over ``n`` keys; rank r maps to key id
    ``(r * a + b) mod n`` so hot keys spread over hash buckets."""

    def __init__(self, n: int, s: float, seed: int) -> None:
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w) / w.sum()
        self.n = n
        a = 1_000_003
        while np.gcd(a, n) != 1:
            a += 2
        self.a, self.b = a, seed % n

    def draw(self, u: np.ndarray) -> np.ndarray:
        r = np.minimum(np.searchsorted(self.cdf, u, side="right"), self.n - 1)
        return (r.astype(np.int64) * self.a + self.b) % self.n


@dataclass
class Envelopes:
    """Columns of envelopes ``[lo, hi)``; ``integ`` is 0 or 1."""

    idx: np.ndarray
    integ: np.ndarray
    key: np.ndarray
    etype: np.ndarray  # index into EVENT_TYPES
    ts_us: np.ndarray
    cents: np.ndarray

    def __len__(self) -> int:
        return len(self.idx)


class EnvelopeStream:
    """The open-loop webhook stream of the trickle workload."""

    def __init__(self, seed: int, p: StreamParams) -> None:
        self.seed, self.p = seed, p
        self.keys_a = ZipfKeys(p.n_keys, p.zipf_s, seed)
        self.keys_b = ZipfKeys(p.n_keys_b, p.zipf_s, seed + 1)

    def due_s(self, idx: np.ndarray) -> np.ndarray:
        return idx / self.p.rate

    def _original(self, idx: np.ndarray) -> np.ndarray:
        """Index whose content envelope ``idx`` carries: itself, or for a
        redelivery the (transitively resolved) earlier envelope."""
        src = idx.copy()
        for _ in range(64):
            redo = (uniform(self.seed, 1, src) < self.p.redelivery) & (src > 0)
            if not redo.any():
                break
            back = 1 + np.floor(
                uniform(self.seed, 2, src[redo]) * np.minimum(src[redo], 2000)
            ).astype(np.int64)
            src[redo] = src[redo] - back
        return src

    def batch(self, lo: int, hi: int) -> Envelopes:
        p, s = self.p, self.seed
        idx = np.arange(lo, hi, dtype=np.int64)
        src = self._original(idx)
        integ = (uniform(s, 3, src) < p.share_b).astype(np.int8)
        ka = self.keys_a.draw(uniform(s, 4, src))
        kb = self.keys_b.draw(uniform(s, 4, src))
        key = np.where(integ == 1, kb, ka)
        late = uniform(s, 5, src) < p.out_of_order
        lag_us = np.where(
            late, (1.0 + uniform(s, 6, src) * (p.max_lag_s - 1.0)) * 1e6, 0.0
        ).astype(np.int64)
        ts = p.base_us + (self.due_s(src) * 1e6).astype(np.int64) - lag_us
        etype = np.floor(uniform(s, 7, src) * len(EVENT_TYPES)).astype(np.int64)
        cents = 1 + np.floor(uniform(s, 8, src) * MAX_CENTS).astype(np.int64)
        return Envelopes(idx, integ, key, etype, ts, cents)


@dataclass
class Preload:
    """One envelope per key for the set-up bulk load; rows with
    ``bad`` set violate the landing contract."""

    key: np.ndarray
    etype: np.ndarray  # may hold BAD_EVENT_TYPE
    ts_us: np.ndarray
    cents: np.ndarray
    bad: np.ndarray


def preload(seed: int, n_keys: int, violation_share: float,
            base_us: int) -> Preload:
    """Initial state of ``n_keys`` keys, timestamped in the day before
    the stream starts (so every stream event is newer)."""
    idx = np.arange(n_keys, dtype=np.int64)
    off = 100
    bad = uniform(seed, off, idx) < violation_share
    kind = uniform(seed, off + 1, idx)
    etype = EVENT_TYPES[
        np.floor(uniform(seed, off + 2, idx) * len(EVENT_TYPES)).astype(np.int64)
    ].astype(object)
    cents = 1 + np.floor(uniform(seed, off + 3, idx) * MAX_CENTS).astype(np.int64)
    # half of the violations break the type rule, half the range rule
    etype[bad & (kind < 0.5)] = BAD_EVENT_TYPE
    cents = np.where(bad & (kind >= 0.5), MAX_CENTS + 1 + (idx % 1000), cents)
    ts = base_us - 86_400_000_000 + (
        uniform(seed, off + 4, idx) * 86_000_000_000
    ).astype(np.int64)
    return Preload(idx, etype, ts, cents, bad)


def body_json(key, etype, ts_us, cents) -> str:
    return json.dumps({
        "user_id": int(key), "event_type": str(etype),
        "ts_us": int(ts_us), "value_cents": int(cents),
    })


# ---------------------------------------------------------------------------
# Curation dataset: the tables the five pinned composites read, with the
# schemas of the repo's TPC-H-ish test data. Near-duplicate documents,
# clustered embeddings and one-edit customer-name variants are planted so
# dedup, ANN and entity resolution all have real work to find.
# ---------------------------------------------------------------------------

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window data column join small customer query order big "
    "stream group filter index bucket shard log commit replica sync view "
    "event user time delta state cache page block file"
).split()


# Row counts of the curation dataset (about sf0.004 of the test data).
N_DOCS = 200
N_VECS = 200
DIMS = 64
N_LABELS = 10
N_CUST = 600
N_USERS = 100
N_EVENTS = 4000
N_ORDERS = 6000
LINES_PER_ORDER = 4
N_SUPP = 50
N_PARTS = 2000


def _documents(rng: np.random.Generator, n: int):
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.12:
            # near duplicate of an earlier document: a few word edits
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS),
                                                     int(rng.integers(20, 90)))]
        texts.append(" ".join(words))
    langs = np.where(rng.random(n) < 0.9, "en", "de")
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{int(x)}" for x in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dims: int, labels: int):
    centers = rng.normal(size=(labels, dims))
    lab = rng.integers(0, labels, n)
    v = centers[lab] + 0.6 * rng.normal(size=(n, dims))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in v],
        "label": lab.astype(np.int32),
    }


def _customers(rng: np.random.Generator, n: int):
    names = [f"Customer#{i:09d}" for i in range(n)]
    # one-character variants of earlier names: the fuzzy-link targets
    for i in range(n):
        if i > 5 and rng.random() < 0.08:
            src = list(names[int(rng.integers(0, i))])
            pos = int(rng.integers(9, len(src) - 3))
            src[pos] = str(int(rng.integers(0, 10)))
            names[i] = "".join(src)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": names,
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": segs[rng.integers(0, len(segs), n)].tolist(),
    }


def _events(rng: np.random.Generator, n: int, users: int):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]") + start
    types = np.array(["click", "purchase", "signup", "view", "error"])
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": types[rng.integers(0, len(types), n)].tolist(),
        "value": np.round(rng.uniform(0.0, 500.0, n), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
    }


def _orders(rng: np.random.Generator):
    n, m = N_ORDERS, N_ORDERS * LINES_PER_ORDER
    start = np.datetime64("1992-01-01T00:00:00", "us")
    days = rng.integers(0, 2500, n).astype("timedelta64[D]").astype(
        "timedelta64[us]")
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    orders = {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, n).astype(np.int64),
        "o_orderstatus": status[rng.integers(0, 3, n)].tolist(),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": start + days,
        "o_orderpriority": prio[rng.integers(0, 5, n)].tolist(),
    }
    ok = rng.integers(0, n, m).astype(np.int64)
    qty = rng.integers(1, 51, m).astype(np.float64)
    lineitem = {
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, N_PARTS, m).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPP, m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)].tolist(),
        "l_shipdate": start + rng.integers(0, 2600, m).astype(
            "timedelta64[D]").astype("timedelta64[us]"),
    }
    return orders, lineitem


# Fixed seed of the base dataset: every benchmark seed sees the same
# duplicate, cluster and link structure, so the work per pass does not
# depend on the seed; the seed picks the copy below.
BASE_SEED = 20_240_101
N_COPIES = 64
DIGITS = "0123456789"
LOWER = "abcdefghijklmnopqrstuvwxyz"


def seeded_copy(tables: dict, seed: int) -> dict:
    """The copy of the base dataset that ``seed`` selects. As in
    ``tools/make_scale_data.py``, copy *i* shifts every key by
    *i* x its table's key range (ids stay disjoint across copies and
    foreign keys stay joined), rotates the text alphabet and the
    embedding dimensions by *i*, and here also rotates the digits of
    customer names. Each is a bijection that keeps edit distances,
    shingle overlaps and vector distances, so every copy carries the
    same work. ``vec_id`` stays unshifted: ``ann_ivfpq_topk`` probes
    with ``vec_id < 3``."""
    i = seed % N_COPIES
    if i == 0:
        return tables
    rot = str.maketrans(LOWER, LOWER[i % 26:] + LOWER[:i % 26])
    drot = str.maketrans(DIGITS, DIGITS[i % 10:] + DIGITS[:i % 10])
    shift = {
        "doc_id": N_DOCS, "c_custkey": N_CUST, "o_custkey": N_CUST,
        "event_id": N_EVENTS, "user_id": N_USERS, "o_orderkey": N_ORDERS,
        "l_orderkey": N_ORDERS, "l_suppkey": N_SUPP, "l_partkey": N_PARTS,
    }
    out = {}
    for name, cols in tables.items():
        cols = dict(cols)
        for c, stride in shift.items():
            if c in cols:
                cols[c] = cols[c] + i * stride
        if name == "documents":
            cols["text"] = [t.translate(rot) for t in cols["text"]]
        elif name == "embeddings":
            cols["embedding"] = [np.roll(v, -(i % DIMS))
                                 for v in cols["embedding"]]
        elif name == "customer":
            cols["c_name"] = [n.translate(drot) for n in cols["c_name"]]
        out[name] = cols
    return out


def write_curation_dataset(seed: int, out: Path) -> list[str]:
    """Write one parquet per table under ``out``; returns table names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(BASE_SEED)
    orders, lineitem = _orders(rng)
    tables = seeded_copy({
        "documents": _documents(rng, N_DOCS),
        "embeddings": _embeddings(rng, N_VECS, DIMS, N_LABELS),
        "customer": _customers(rng, N_CUST),
        "events": _events(rng, N_EVENTS, N_USERS),
        "orders": orders,
        "lineitem": lineitem,
    }, seed)
    out.mkdir(parents=True, exist_ok=True)
    for name, cols in tables.items():
        arrays = {}
        for c, v in cols.items():
            if c == "embedding":
                arrays[c] = pa.array(v, type=pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        pq.write_table(pa.table(arrays), out / f"{name}.parquet")
    return list(tables)
