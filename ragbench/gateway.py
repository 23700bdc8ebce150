"""Simulated embedding gateway: the transport the benchmark hands to
``embed_via_api`` (ingest side) and to ``VectorCollection.near_text`` and
friends (query side).

- 1536-d vectors (the ada-002 width the reference configures);
- each vector is a seeded random projection of the text's word counts
  (sublinear tf), so documents on one topic cluster and topic-word queries
  have true neighbours;
- each request sleeps a fixed latency plus a per-text cost;
- a deterministic ~1% of ingest requests (by content hash) fail on their
  first attempt, so the program's backoff path runs;
- requests, texts, retries and simulated wait are counted with Spark
  accumulators, so counts made inside executor tasks reach the Spark driver
  without any change to the program.

Query-side calls run in the Spark driver process, from several client
threads; their requests are counted under a lock, and they never fail,
because the program's query path has no retry and the benchmark's
workloads must not fail.
"""

from __future__ import annotations

import hashlib
import re
import threading
import time

import numpy as np
from pyspark.accumulators import AccumulatorParam

DIM = 1536
FIXED_S = 0.05  # per-request latency
PER_TEXT_S = 0.001  # per-text latency
FAIL_PER_MILLE = 10  # ~1% of requests fail on their first attempt

_WORD = re.compile(r"[a-z0-9]+")


class GatewayError(RuntimeError):
    """The simulated gateway refused a request (injected failure)."""


class _SetParam(AccumulatorParam):
    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


def _digest(seed: int, data: str) -> int:
    h = hashlib.blake2b(data.encode("utf-8"), digest_size=8, key=str(seed).encode())
    return int.from_bytes(h.digest(), "big")


def request_fails(seed: int, texts: list[str]) -> bool:
    """Whether a request with these texts fails on its first attempt."""
    return _digest(seed, "\x1f".join(texts)) % 1000 < FAIL_PER_MILLE


class Embedder:
    """Deterministic text -> vector map; per-word projection rows are drawn
    from a generator seeded by (seed, word) and cached."""

    def __init__(self, seed: int):
        self.seed = seed
        self._rows: dict[str, np.ndarray] = {}

    def _row(self, word: str) -> np.ndarray:
        row = self._rows.get(word)
        if row is None:
            rng = np.random.default_rng([self.seed, _digest(0, word)])
            row = rng.standard_normal(DIM, dtype=np.float32)
            self._rows[word] = row
        return row

    def vector(self, text: str) -> list[float]:
        counts: dict[str, int] = {}
        for w in _WORD.findall(text.lower()):
            counts[w] = counts.get(w, 0) + 1
        if not counts:
            return [0.0] * DIM
        weights = 1.0 + np.log(np.fromiter(counts.values(), dtype=np.float32))
        m = np.stack([self._row(w) for w in counts])
        v = weights @ m
        v /= np.linalg.norm(v)
        return v.tolist()


# one embedder per Python worker process: projection rows are reused across
# the tasks the worker runs (keyed by seed)
_EMBEDDERS: dict[int, Embedder] = {}


def _embedder(seed: int) -> Embedder:
    e = _EMBEDDERS.get(seed)
    if e is None:
        e = _EMBEDDERS[seed] = Embedder(seed)
    return e


class Gateway:
    """Owns the counters; hands out transport factories."""

    def __init__(self, sc, seed: int, track_texts: bool = False):
        self.seed = seed
        self.track_texts = track_texts
        self._acc = {
            k: sc.accumulator(0) for k in ("requests", "texts", "retries", "wait_us")
        }
        self._texts = sc.accumulator(set(), _SetParam())
        self._lock = threading.Lock()
        self._query_requests = 0

    def ingest_factory(self):
        """Factory for ``embed_via_api``: runs inside executor tasks."""
        seed, acc, texts_acc = self.seed, self._acc, self._texts
        track = self.track_texts

        def factory():
            failed: set[str] = set()
            emb = _embedder(seed)

            def embed(texts: list[str]) -> list[list[float]]:
                wait = FIXED_S + PER_TEXT_S * len(texts)
                time.sleep(wait)
                acc["requests"].add(1)
                acc["wait_us"].add(int(wait * 1e6))
                key = "\x1f".join(texts)
                if request_fails(seed, texts) and key not in failed:
                    failed.add(key)
                    acc["retries"].add(1)
                    raise GatewayError("injected first-attempt failure")
                acc["texts"].add(len(texts))
                if track:
                    texts_acc.add({_digest(seed, t) for t in texts})
                return [emb.vector(t) for t in texts]

            return embed

        return factory

    def query_factory(self):
        """Factory for the query layer: called in the Spark driver, per query."""
        emb = _embedder(self.seed)

        def factory():
            def embed(texts: list[str]) -> list[list[float]]:
                wait = FIXED_S + PER_TEXT_S * len(texts)
                time.sleep(wait)
                with self._lock:
                    self._query_requests += 1
                return [emb.vector(t) for t in texts]

            return embed

        return factory

    def counters(self) -> dict:
        """Ingest-side totals so far (read in the Spark driver)."""
        out = {k: a.value for k, a in self._acc.items()}
        out["text_keys"] = set(self._texts.value)
        return out

    def query_requests(self) -> int:
        with self._lock:
            return self._query_requests
