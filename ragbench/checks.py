"""Output checks: each returns a list of failure messages (empty = correct).

The checks read the sink through its public ``read()`` and compare with
what the generator and the simulated gateway say the output must be.
"""

from __future__ import annotations

import numpy as np
from ragbench.gateway import DIM, Embedder

VECTOR_SAMPLE = 16


def rel_path(url: str) -> str:
    """Corpus-relative path of a sink url (``.../corpus/<dept>/<name>``)."""
    return url.split("/corpus/", 1)[1]


class Snapshot:
    """Every live row of the sink, read once through ``sink.read()``."""

    def __init__(self, sink):
        self.pdf = sink.read().select("url", "chunk_id", "chunk_text", "vector").toPandas()
        self.by_path: dict[str, dict[str, str]] = {}
        for url, cid, text in zip(self.pdf["url"], self.pdf["chunk_id"], self.pdf["chunk_text"]):
            self.by_path.setdefault(rel_path(url), {})[cid] = text

    def vectors(self) -> np.ndarray:
        return np.stack(self.pdf["vector"].to_numpy())


def row_bytes(text: str) -> int:
    """User bytes of one row: chunk text plus a float32 vector."""
    return len(text.encode("utf-8")) + 4 * DIM


def _vectors_match(texts, vectors, embedder: Embedder) -> bool:
    for text, vec in zip(texts, vectors):
        want = np.asarray(embedder.vector(text.replace("\n", " ")), dtype=np.float32)
        if len(vec) != len(want) or not np.array_equal(np.asarray(vec, dtype=np.float32), want):
            return False
    return True


def check_live(snap: Snapshot, expected_paths: set[str]) -> list[str]:
    """Chunk ids are unique and the live urls are exactly the expected ones."""
    fails = []
    dups = int(snap.pdf["chunk_id"].duplicated().sum())
    if dups:
        fails.append(f"{dups} duplicate chunk ids")
    missing = expected_paths - set(snap.by_path)
    if missing:
        fails.append(f"{len(missing)} document urls missing, e.g. {sorted(missing)[:3]}")
    extra = set(snap.by_path) - expected_paths
    if extra:
        fails.append(f"{len(extra)} unexpected urls, e.g. {sorted(extra)[:3]}")
    return fails


def check_ingest(snap: Snapshot, expected_paths: set[str], embedder: Embedder) -> list[str]:
    fails = check_live(snap, expected_paths)
    sample = snap.pdf.sort_values("chunk_id").head(VECTOR_SAMPLE)
    if not _vectors_match(sample["chunk_text"], sample["vector"], embedder):
        fails.append("stored vector differs from the gateway's vector")
    return fails


def check_round(before: Snapshot, after: Snapshot, expected_paths: set[str],
                edits: list[tuple], added: list[str], removed: list[str],
                fresh, embedder: Embedder) -> list[str]:
    """Checks after one refresh round. ``fresh`` is a pandas frame with
    ``url``, ``chunk_id`` and ``chunk_text`` of a fresh chunking of the
    edited and added files: their stored rows must be exactly those chunks,
    each with the gateway's vector of its text, so no stale row or stale
    vector of an edited file survives (old and new rows share chunk ids)."""
    fails = check_live(after, expected_paths)
    for path, para, _rewrite in edits:
        marker = para.split(" ", 1)[0]
        if not any(marker in t for t in after.by_path.get(path, {}).values()):
            fails.append(f"edited {path} lacks its new paragraph")
    for path in removed:
        if path in after.by_path:
            fails.append(f"removed {path} still present")
    for path in added:
        if path not in after.by_path:
            fails.append(f"added {path} missing")
    touched = {e[0] for e in edits} | set(added) | set(removed)
    for path, rows in before.by_path.items():
        if path not in touched and set(after.by_path.get(path, {})) != set(rows):
            fails.append(f"untouched {path} changed chunk ids")
    changed = {e[0] for e in edits} | set(added)
    stored = after.pdf.assign(path=after.pdf["url"].map(rel_path))
    stored = stored[stored["path"].isin(changed)]
    want = fresh.assign(path=fresh["url"].map(rel_path))
    for path in sorted(changed):
        got = stored[stored["path"] == path]
        exp = want[want["path"] == path]
        if sorted(zip(got["chunk_id"], got["chunk_text"])) != sorted(
            zip(exp["chunk_id"], exp["chunk_text"])
        ):
            fails.append(
                f"changed {path}: its {len(got)} stored chunks differ from a fresh "
                f"chunking ({len(exp)} chunks)"
            )
    if not _vectors_match(stored["chunk_text"], stored["vector"], embedder):
        fails.append("a changed file's stored vector differs from the gateway's vector")
    return fails


class ExactIndex:
    """Exact dense top-k over the committed vectors, with the program's
    scoring: certainty ``round((1 + cos) / 2, 6)``, ties by id."""

    def __init__(self, ids: list[str], urls: list[str], vectors: np.ndarray):
        self.ids = np.asarray(ids)
        self.urls = urls
        m = vectors.astype(np.float64)
        self.m = m / np.linalg.norm(m, axis=1, keepdims=True)

    def certainties(self, qvec) -> np.ndarray:
        q = np.asarray(qvec, dtype=np.float64)
        q = q / np.linalg.norm(q)
        return np.round((1.0 + self.m @ q) / 2.0, 6)

    def recall(self, qvec, got_ids: list[str], k: int, url_part: str | None = None) -> float:
        """Share of the exact top-k the result holds; a returned id whose
        exact certainty ties the k-th exact certainty counts as a hit."""
        cert = self.certainties(qvec)
        mask = np.ones(len(cert), dtype=bool)
        if url_part is not None:
            mask = np.array([url_part in u for u in self.urls])
        pool = np.flatnonzero(mask)
        if len(pool) == 0:
            return 1.0 if not got_ids else 0.0
        want = min(k, len(pool))
        kth = np.sort(cert[pool])[::-1][want - 1]
        ok = {self.ids[i] for i in pool if cert[i] >= kth - 1e-6}
        hits = sum(1 for g in got_ids if g in ok)
        return min(hits, want) / want if len(got_ids) == want else 0.0
