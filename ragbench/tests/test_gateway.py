"""The simulated gateway: deterministic vectors, injected first-attempt
failures that the program's backoff retries, and exact counters."""

import threading

import numpy as np

from ragbench import gateway
from ragbench.gateway import DIM, Embedder, Gateway, request_fails
from vectordb_data_ingestion_spark.operators.enrichment import call_with_backoff


class _Acc:
    """Stand-in for a Spark accumulator read in the Spark driver."""

    def __init__(self, value, param=None):
        self.value = value
        self.param = param
        self._lock = threading.Lock()

    def add(self, term):
        with self._lock:
            if self.param is None:
                self.value += term
            else:
                self.value = self.param.addInPlace(self.value, term)


class _FakeContext:
    def accumulator(self, value, param=None):
        return _Acc(value, param)


def test_vectors_are_deterministic_and_unit_length():
    a = Embedder(7).vector("alpha beta beta gamma")
    b = Embedder(7).vector("alpha beta beta gamma")
    assert a == b
    assert len(a) == DIM
    assert abs(np.linalg.norm(a) - 1.0) < 1e-5
    assert Embedder(8).vector("alpha beta beta gamma") != a


def test_shared_words_mean_closer_vectors():
    e = Embedder(3)
    base = np.array(e.vector("vpn token reset vpn client"))
    near = np.array(e.vector("vpn client reset guide"))
    far = np.array(e.vector("invoice ledger quarter payroll"))
    assert base @ near > base @ far + 0.2


def test_failures_match_retries(monkeypatch):
    monkeypatch.setattr(gateway, "FIXED_S", 0.0)
    monkeypatch.setattr(gateway, "PER_TEXT_S", 0.0)
    seed = 11
    gw = Gateway(_FakeContext(), seed, track_texts=True)
    embed = gw.ingest_factory()()
    batches = [[f"text {i} {j}" for j in range(3)] for i in range(600)]
    expected_failures = sum(request_fails(seed, b) for b in batches)
    assert 0 < expected_failures < 20  # ~1% of 600
    for b in batches:
        vecs = call_with_backoff(lambda b=b: embed(b), base_delay=0.0)
        assert vecs == [Embedder(seed).vector(t) for t in b]
    c = gw.counters()
    assert c["retries"] == expected_failures
    assert c["requests"] == len(batches) + expected_failures
    assert c["texts"] == 3 * len(batches)
    assert len(c["text_keys"]) == 3 * len(batches)


def test_query_side_never_fails_and_counts(monkeypatch):
    monkeypatch.setattr(gateway, "FIXED_S", 0.0)
    monkeypatch.setattr(gateway, "PER_TEXT_S", 0.0)
    gw = Gateway(_FakeContext(), 11)
    factory = gw.query_factory()
    texts = [[f"q{i}"] for i in range(300)]
    for t in texts:
        assert factory()(t) == [Embedder(11).vector(t[0])]
    assert gw.query_requests() == 300
    assert gw.counters()["requests"] == 0
