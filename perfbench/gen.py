"""Seeded input generators for the benchmark workloads.

Everything here is pure Python + NumPy + pyarrow: the inputs are made
before Spark touches them, and the same seed always yields the same
bytes.  Each generator also returns what a correct program must make of
its output, so the workloads can check results without trusting the
code under test.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- syslog

# Mirrors the ParseLog keyword switch (schema.SEVERITY_KEYWORDS); kept as
# an independent copy so a change to the parser is caught, not mirrored.
KNOWN_SEVERITY = {
    "fatal": 0, "emergency": 0, "alert": 1, "critical": 2, "error": 3,
    "warning": 4, "notice": 5, "info": 6, "debug": 7, "packet": 7, "raw": 7,
}
DEFAULT_SEVERITY = 6
UNKNOWN_SEVERITY = ["account", "script", "weird", "caps", "route"]
TOPICS = ["firewall", "system", "wireless", "dhcp", "ppp", "interface", "ospf",
          "bgp", "dns", "hotspot", "ipsec", "l2tp"]
EXTRA_CATS = ["forward", "input", "output", "wlan1", "wlan2", "ether1",
              "bridge", "vlan10", "pppoe-out1", "debugdump"]
WORDS = ["dropped", "packet", "from", "to", "link", "up", "down", "lease",
         "assigned", "client", "timeout", "retry", "session", "started",
         "closed", "auth", "failed", "ok", "signal", "weak", "route",
         "changed", "neighbor", "state", "full", "in", "out", "proto", "TCP",
         "UDP", "len", "user", "admin", "logged", "config", "saved"]

# Line kinds and their shares of the backlog (they sum to 1).
LINE_SHARES = {
    "known": 0.70,      # "topic,<known keyword>[,extra...] message"
    "unknown": 0.18,    # "topic,<unknown keyword>[,extra...] message"
    "no_space": 0.06,   # malformed: no space at all
    "no_comma": 0.06,   # malformed: header without a comma (RFC 5424-ish)
}
EXTRA_CATS_SHARE = 0.35  # of the well-formed lines, carry 1-2 extra categories


@dataclass
class Backlog:
    """A written syslog backlog and the records a correct ingest stores."""

    input_dir: str
    n_rows: int
    n_errors: int       # rows whose Severity <= 3
    row_hash: int       # sum of row_digest over expected rows, mod 2**60
    input_bytes: int


def row_digest(device: str, severity: int, categories: list, message: str) -> int:
    """Order-independent per-row hash term: the first 60 bits of the
    SHA-256 of ``device␟severity␟cat␞cat…␟message``.  The same string is
    built in Spark with concat_ws/array_join/sha2 (workloads.ingest)."""
    s = "\x1f".join([device, str(severity), "\x1e".join(categories), message])
    return int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:15], 16)


def _message(r: random.Random) -> str:
    words = [r.choice(WORDS) for _ in range(r.randint(2, 9))]
    if r.random() < 0.5:
        words.insert(r.randint(0, len(words)),
                     f"10.{r.randint(0, 255)}.{r.randint(0, 255)}.{r.randint(1, 254)}")
    return " ".join(words)


def _line(r: random.Random, kind: str):
    """One raw line and its expected (Severity, Categories, Message)."""
    msg = _message(r)
    if kind == "no_space":
        raw = msg.replace(" ", "_")
        return raw, DEFAULT_SEVERITY, ["unknown"], raw
    if kind == "no_comma":
        raw = f"<{r.randint(0, 191)}>1 {msg}"
        return raw, DEFAULT_SEVERITY, ["unknown"], raw
    topic = r.choice(TOPICS)
    extra = []
    if r.random() < EXTRA_CATS_SHARE:
        extra = r.sample(EXTRA_CATS, r.randint(1, 2))
    if kind == "known":
        kw = r.choice(list(KNOWN_SEVERITY))
        sev, cats = KNOWN_SEVERITY[kw], [topic] + extra
    else:
        kw = r.choice(UNKNOWN_SEVERITY)
        sev, cats = DEFAULT_SEVERITY, [topic] + extra + [kw]
    return ",".join([topic, kw] + extra) + " " + msg, sev, cats, msg


def write_backlog(out_dir: str, seed: int, n_lines: int, n_devices: int) -> Backlog:
    """Write ``n_lines`` Mikrotik-style lines spread over ``n_devices``
    files named ``<ip>_<port>.log`` (the file source recovers the peer
    address from the name), and return the expected store contents."""
    r = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    devices = [f"192.168.{i // 250}.{i % 250 + 1}_{514 + i % 3}" for i in range(n_devices)]
    kinds = list(LINE_SHARES)
    weights = [LINE_SHARES[k] for k in kinds]
    per_device: list[list[str]] = [[] for _ in devices]
    n_errors = 0
    acc = 0
    for _ in range(n_lines):
        d = r.randrange(n_devices)
        kind = r.choices(kinds, weights)[0]
        raw, sev, cats, msg = _line(r, kind)
        per_device[d].append(raw)
        n_errors += sev <= 3
        acc += row_digest(devices[d].replace("_", ":"), sev, cats, msg)
    total = 0
    for dev, lines in zip(devices, per_device):
        path = os.path.join(out_dir, f"{dev}.log")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n" if lines else "")
        total += os.path.getsize(path)
    return Backlog(out_dir, n_lines, n_errors, acc % (1 << 60), total)


# ------------------------------------------------------ fixture tables

DOC_VOCAB = ["the", "a", "fast", "slow", "big", "small", "data", "table", "row",
             "column", "key", "value", "join", "hash", "sort", "merge", "scan",
             "filter", "group", "agg", "window", "stream", "batch", "spark",
             "query", "order", "customer", "part", "line", "vector"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int, dup_every: int = 20) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= dup_every and i % dup_every == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(DOC_VOCAB[j] for j in rng.integers(0, len(DOC_VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, 5, n)], pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def unit_vectors(rng, n: int, dim: int = 64, n_labels: int = 10):
    """Unit-norm float32 vectors with weak per-label structure."""
    centers = rng.normal(0, 1, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    v = centers[labels] * 0.15 + rng.normal(0, 1, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def _embeddings(rng, n: int) -> pa.Table:
    v, labels = unit_vectors(rng, n)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_fixtures(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten fixture tables the query registry reads
    (schema.TESTDATA_TABLES), with the column names and types of the
    reference fixtures, at ``scale`` (0.01 → 60 000 lineitem rows).
    Returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events = int(1_000_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(REGIONS, s)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)], s)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)], s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(900 + (np.arange(n_part) % 1000) / 10, f64)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)], s),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)], s)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)], s),
            "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_line)], s),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line), pa.timestamp("us"))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                                   + rng.integers(0, 30 * 86_400_000_000, n_events)),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, n_events // 66), n_events), i64),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)], s),
            "value": pa.array(_money(rng, 0.01, 490, n_events), f64),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)], s)}),
        "documents": _documents(rng, 500),
        "embeddings": _embeddings(rng, 500),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------- store corpus

STORE_VOCAB_SIZE = 3000


class Corpus:
    """Seeded append batches for the stored indexes, made on demand.

    Append ``a`` inserts document batch ``a`` and embedding batch
    ``a + 1``; embedding batch 0 trains the IVF-PQ quantizers.  Each
    document batch has ``n_docs`` documents of Zipf-distributed words
    from a 3 000-word vocabulary, and every tenth document copies an
    earlier original (never a copy) with one word changed, so the dedup
    store always builds components of the same shape.  Every 25th
    vector of embedding batch 0 is a query with ten planted
    near-neighbours in batch 1, so the true top-10 of every query is
    known and well separated.  Each batch is written to ``out_dir`` as
    parquet the first time it is asked for.
    """

    def __init__(self, out_dir: str, seed: int, n_docs: int, n_vecs: int):
        self.out_dir = out_dir
        self.n_docs = n_docs
        self.n_vecs = n_vecs
        self.rng = np.random.default_rng(seed)
        os.makedirs(out_dir, exist_ok=True)
        self.vocab = [f"w{i}" for i in range(STORE_VOCAB_SIZE)]
        p = 1.0 / np.arange(1, STORE_VOCAB_SIZE + 1)
        self.word_p = p / p.sum()
        self.texts: list[str] = []
        self.originals: list[int] = []
        self.docs: list[pa.Table] = []
        self.embs: list[pa.Table] = []
        self.query_ids = list(range(0, n_vecs, 25))
        self.bytes: dict[str, int] = {}
        self._emb_pair()

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, f"{name}.parquet")

    def _write(self, name: str, t: pa.Table) -> None:
        pq.write_table(t, self.path(name))
        self.bytes[name] = os.path.getsize(self.path(name))

    def _emb_pair(self) -> None:
        """Embedding batches 0 and 1, with the planted neighbours."""
        n = self.n_vecs
        vecs, _ = unit_vectors(self.rng, 2 * n)
        slots = iter(range(n, 2 * n))
        for q in self.query_ids:
            for _ in range(10):
                v = vecs[q] + self.rng.normal(0, 0.01, vecs.shape[1]).astype(np.float32)
                vecs[next(slots)] = v / np.linalg.norm(v)
        for lo in (0, n):
            self._add_emb(vecs[lo:lo + n])

    def _add_emb(self, vecs: np.ndarray) -> None:
        lo = len(self.embs) * self.n_vecs
        t = pa.table({
            "vec_id": pa.array(np.arange(lo, lo + len(vecs)), pa.int64()),
            "embedding": pa.array([row.astype(np.float64) for row in vecs],
                                  pa.list_(pa.float64())),
        })
        self._write(f"emb_{len(self.embs)}", t)
        self.embs.append(t)

    def _add_docs(self) -> None:
        rng = self.rng
        lo = len(self.texts)
        for i in range(lo, lo + self.n_docs):
            if i % 10 == 0 and self.originals:
                words = self.texts[self.originals[int(rng.integers(0, len(self.originals)))]].split()
                words[int(rng.integers(0, len(words)))] = self.vocab[int(rng.integers(0, STORE_VOCAB_SIZE))]
            else:
                self.originals.append(i)
                words = [self.vocab[j] for j in
                         rng.choice(STORE_VOCAB_SIZE, int(rng.integers(20, 80)), p=self.word_p)]
            self.texts.append(" ".join(words))
        t = pa.table({"doc_id": pa.array(np.arange(lo, len(self.texts)), pa.int64()),
                      "text": pa.array(self.texts[lo:], pa.string())})
        self._write(f"docs_{len(self.docs)}", t)
        self.docs.append(t)

    def append(self, a: int) -> tuple[str, str]:
        """Paths of the document and embedding batches of append ``a``."""
        while len(self.docs) <= a:
            self._add_docs()
        while len(self.embs) <= a + 1:
            self._add_emb(unit_vectors(self.rng, self.n_vecs)[0])
        return self.path(f"docs_{a}"), self.path(f"emb_{a + 1}")

    def input_bytes(self, appends: int) -> int:
        """Parquet bytes of the training batch and the first ``appends``
        appends."""
        return self.bytes["emb_0"] + sum(self.bytes[f"docs_{a}"] + self.bytes[f"emb_{a + 1}"]
                                         for a in range(appends))
