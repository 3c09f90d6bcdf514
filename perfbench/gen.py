"""Seeded input generators and reference models for the benchmark.

Everything here is pure Python/NumPy: no Spark, no engine import.  The
same seed always yields byte-identical inputs (every generator draws
from its own ``numpy.random.Generator``), and the reference models are
what the benchmark checks the engine's outputs against.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

#: Shares the point generator plants (of all points sent).
EXTENDED_SHARE = 0.20
DUP_SHARE = 0.05
LATE_SHARE = 0.02

#: Points sit on a 1 ms grid (times are microseconds); late points
#: land between grid slots, so they never collide with a fresh point.
TIME_STEP_US = 1000
T0_US = 1_700_000_000_000_000


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream name)."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed & (2**63 - 1), tag]))


class Zipf:
    """Bounded Zipf(s) sampler over ranks ``0 .. n-1`` (rank 0 hottest)."""

    def __init__(self, n: int, s: float = 1.1):
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w) / w.sum()

    def sample(self, rng: np.random.Generator, size: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(size)),
                          len(self.cdf) - 1)


def series_addresses(n: int, seed: int, buckets: int = 128) -> np.ndarray:
    """``n`` distinct even (simple-kind) addresses.  The series of rank
    ``r`` lands in bucket ``2r mod buckets`` for every seed (the engine
    places ``address & ~1`` modulo the bucket count), so the seed changes
    the data but not which buckets run hot."""
    rng = rng_for(seed, "series")
    high = rng.choice(1 << 40, n, replace=False).astype(np.int64) + (1 << 12)
    low = (2 * np.arange(n, dtype=np.int64)) % buckets
    return high * buckets + low


# ------------------------------------------------------------ points


@dataclass
class PointBatch:
    """One write batch: parallel lists, in arrival order."""
    address: list[int]
    time: list[int]
    value: list[int | None]
    payload: list[bytes | None]
    dups: int = 0
    late: int = 0

    def __len__(self) -> int:
        return len(self.address)

    def tuples(self) -> list[tuple]:
        return list(zip(self.address, self.time, self.value, self.payload))


class PointStream:
    """Time-series points with Zipf addresses, ~20% extended points
    (payloads of 8 B - 1 KiB), ~5% re-sends of an earlier
    ``(address, time)`` with a new value and ~2% late arrivals.

    Duplicates only re-send points of EARLIER batches, so first-wins
    order never depends on the order inside one batch."""

    def __init__(self, seed: int, n_series: int = 512):
        self.rng = rng_for(seed, "points")
        self.series = series_addresses(n_series, seed)
        self.zipf = Zipf(n_series)
        self.next_slot = 0
        self.sent: set[tuple[int, int]] = set()
        self.history: list[tuple[int, int]] = []  # keys of earlier batches

    def batch(self, n: int) -> PointBatch:
        rng = self.rng
        ranks = self.zipf.sample(rng, n)
        kind = rng.random(n)
        ext = rng.random(n) < EXTENDED_SHARE
        b = PointBatch([], [], [], [])
        fresh: list[tuple[int, int]] = []
        for i in range(n):
            dup = kind[i] < DUP_SHARE
            late = DUP_SHARE <= kind[i] < DUP_SHARE + LATE_SHARE
            if dup and self.history:
                addr, t = self.history[int(rng.integers(len(self.history)))]
                b.dups += 1
            else:
                addr = int(self.series[ranks[i]]) | int(ext[i])
                if late and self.next_slot > 64:
                    lag = int(rng.integers(16, min(self.next_slot, 50_000)))
                    t = (T0_US + (self.next_slot - lag) * TIME_STEP_US
                         + int(rng.integers(1, TIME_STEP_US)))
                    if (addr, t) in self.sent:
                        t = T0_US + self.next_slot * TIME_STEP_US
                        self.next_slot += 1
                    else:
                        b.late += 1
                else:
                    t = T0_US + self.next_slot * TIME_STEP_US
                    self.next_slot += 1
                self.sent.add((addr, t))
                fresh.append((addr, t))
            b.address.append(addr)
            b.time.append(t)
            if addr & 1:
                size = int(rng.integers(8, 1025))
                b.payload.append(rng.bytes(size))
                b.value.append(None)
            else:
                b.value.append(int(rng.integers(-(1 << 62), 1 << 62)))
                b.payload.append(None)
        self.history.extend(fresh)
        return b

    def time_at(self, slot: int) -> int:
        return T0_US + slot * TIME_STEP_US


class PointModel:
    """First-wins point store: the first value sent for an
    ``(address, time)`` is the one every read returns."""

    def __init__(self):
        self.by_addr: dict[int, dict[int, object]] = {}

    def apply(self, b: PointBatch) -> None:
        for a, t, v, p in zip(b.address, b.time, b.value, b.payload):
            series = self.by_addr.setdefault(a, {})
            if t not in series:
                series[t] = p if a & 1 else v

    def read(self, addresses, start: int, end: int) -> set[tuple]:
        out = set()
        for a in addresses:
            for t, v in self.by_addr.get(int(a), {}).items():
                if start <= t <= end:
                    out.add((int(a), t, v))
        return out

    def rows(self) -> int:
        return sum(len(s) for s in self.by_addr.values())


# ---------------------------------------------------------------- KV


class KeyStream:
    """Zipf-distributed KV update keys over ``n_keys`` keys (even
    integers), with 8-24 byte random values."""

    def __init__(self, seed: int, n_keys: int):
        self.rng = rng_for(seed, "kv")
        self.keys = np.arange(n_keys, dtype=np.int64) * 2 + 2
        # hot keys scattered over the key space, not the lowest ones
        self.rng.shuffle(self.keys)
        self.zipf = Zipf(n_keys)

    def initial(self) -> list[tuple[int, bytes]]:
        return [(int(k), self.value()) for k in sorted(self.keys)]

    def value(self) -> bytes:
        return self.rng.bytes(int(self.rng.integers(8, 25)))

    def updates(self, n: int) -> list[tuple[int, bytes]]:
        return [(int(self.keys[r]), self.value())
                for r in self.zipf.sample(self.rng, n)]

    def random_keys(self, n: int) -> list[int]:
        return [int(k) for k in self.rng.choice(self.keys, n, replace=False)]


def bounded_merge(new: bytes, old: bytes) -> bytes:
    """The KV workload's merge function, in the engine's ``merge(new,
    existing)`` argument order: append, keep the last 64 bytes."""
    return (old + b"|" + new)[-64:]


class KVModel:
    """The dict a MutableKV must equal after each merge."""

    def __init__(self, rows=()):
        self.d: dict[int, bytes] = dict(rows)

    def merge(self, updates, merge=bounded_merge) -> None:
        for k, v in updates:
            self.d[k] = merge(v, self.d[k]) if k in self.d else v


# --------------------------------------------------------- documents

LANGS = ("de", "en", "es", "fr")


@dataclass
class Corpus:
    doc_id: list[int]
    text: list[str]
    lang: list[str]
    source: list[str]
    exact_families: int = 0
    near_families: int = 0
    family_of: dict[int, int] = field(default_factory=dict)

    @property
    def n_chars(self) -> list[int]:
        return [len(t) for t in self.text]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, int(rng.integers(3, 10)))))
    return sorted(words)


def documents(seed: int, n_docs: int = 2000, exact_share: float = 0.10,
              near_share: float = 0.10) -> Corpus:
    """Random-word documents with planted duplicate families.

    ``exact_share`` of the documents are exact copies of an earlier
    document, differing only in case and surrounding whitespace (the
    normalization ``dedup_exact`` keys on).  ``near_share`` are edited
    copies: about 5% of their words replaced."""
    rng = rng_for(seed, "docs")
    vocab = _vocab(rng, 3000)
    zipf = Zipf(len(vocab), 1.0)
    c = Corpus([], [], [], [])
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    for i in range(n_base):
        n_words = int(rng.integers(20, 60))
        c.text.append(" ".join(vocab[r] for r in zipf.sample(rng, n_words)))
    bases = rng.choice(n_base, n_exact + n_near, replace=False)
    for j, src in enumerate(bases[:n_exact]):
        t = c.text[src]
        c.text.append(("  " + t.upper() + " ") if j % 2 else (t + "   "))
        c.family_of[len(c.text) - 1] = int(src)
    for src in bases[n_exact:]:
        words = c.text[src].split(" ")
        for w in rng.choice(len(words), max(1, len(words) // 20),
                            replace=False):
            words[w] = vocab[int(rng.integers(len(vocab)))]
        c.text.append(" ".join(words))
        c.family_of[len(c.text) - 1] = int(src)
    c.exact_families, c.near_families = n_exact, n_near
    order = rng.permutation(n_docs)  # families are not id-adjacent
    c.text = [c.text[o] for o in order]
    inv = {int(o): i for i, o in enumerate(order)}
    c.family_of = {inv[k]: inv[v] for k, v in c.family_of.items()}
    c.doc_id = list(range(n_docs))
    c.lang = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)]
    c.source = [f"src{int(x)}" for x in rng.integers(0, 8, n_docs)]
    return c


# ----------------------------------------------------------- vectors


@dataclass
class Vectors:
    ids: np.ndarray
    vecs: np.ndarray  # float32, (n, dim)
    labels: np.ndarray


def gaussian_mixture(seed: int, n: int, dim: int = 32, components: int = 16,
                     id_base: int = 0, stream: str = "vectors") -> Vectors:
    """Anisotropic mixture of Gaussians: each component has its own
    centre and its own per-axis scales, so cluster structure (what IVF
    routing and PQ codebooks exploit) is real."""
    shape = rng_for(seed, "mixture")  # shared by corpus and queries
    centres = shape.normal(0.0, 1.0, (components, dim))
    scales = shape.uniform(0.05, 0.6, (components, dim))
    weights = shape.dirichlet(np.full(components, 2.0))
    rng = rng_for(seed, stream)
    labels = rng.choice(components, n, p=weights)
    vecs = centres[labels] + rng.normal(0.0, 1.0, (n, dim)) * scales[labels]
    return Vectors(np.arange(id_base, id_base + n, dtype=np.int64),
                   vecs.astype(np.float32), labels.astype(np.int32))


def exact_topk(corpus: Vectors, queries: np.ndarray, k: int = 10):
    """Brute-force cosine top-k: (ids (q, k), cos (q, k)), ties broken
    by the lower id — the order the engine's rankers use."""
    a = corpus.vecs.astype(np.float64)
    q = np.asarray(queries, dtype=np.float64)
    cos = (q @ a.T) / np.linalg.norm(q, axis=1)[:, None] \
        / np.linalg.norm(a, axis=1)[None, :]
    order = np.lexsort((np.broadcast_to(corpus.ids, cos.shape), -cos),
                       axis=1)[:, :k]
    return corpus.ids[order], np.take_along_axis(cos, order, axis=1)


def cosine(a, b) -> float:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return float(a @ b / np.linalg.norm(a) / np.linalg.norm(b))
