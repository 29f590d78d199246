"""A numpy copy of the embedding store, used to check the engine's answers.

``embed`` follows the hashing-embedder contract of
``pipeline.embedder.HashingEmbedder``: whitespace tokens, md5 of each
token (first 8 bytes, big-endian) modulo ``dim`` as the bucket, counts in
float64, L2-normalised, stored as float32. ``StoreMirror`` tracks the
same appends and deletes the benchmark sends to the engine and answers
top-k by brute force, with the engine's distance arithmetic (a left fold
of squared float64 differences, then sqrt) and ties broken on id.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np


class HashEmbedder:
    """Query and document embedding under the md5 token-hash contract."""

    def __init__(self, dim: int):
        self.dim = dim
        self._bucket: dict[str, int] = {}

    def bucket(self, tok: str) -> int:
        b = self._bucket.get(tok)
        if b is None:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            b = self._bucket[tok] = h % self.dim
        return b

    def __call__(self, text: str) -> np.ndarray:
        vec = np.zeros(self.dim, dtype=np.float64)
        for tok in text.split():
            vec[self.bucket(tok)] += 1.0
        n = math.sqrt(float(vec @ vec))
        if n > 0:
            vec /= n
        return vec.astype(np.float32)


class StoreMirror:
    """Live (id, text, embedding) rows the engine's store should hold."""

    def __init__(self, embedder: HashEmbedder):
        self.embed = embedder
        self.ids: list[str] = []
        self.texts: list[str] = []
        self._vecs: list[np.ndarray] = []
        self.live: set[str] = set()
        self._mat: np.ndarray | None = None

    def add(self, rows) -> int:
        """Add (id, text) rows not yet present with non-empty text, as the
        engine's dedup append does; return how many were new."""
        known = set(self.ids)
        new = 0
        for msg_id, text in rows:
            if not text or msg_id in known:
                continue
            known.add(msg_id)
            self.ids.append(msg_id)
            self.texts.append(text)
            self._vecs.append(self.embed(text))
            self.live.add(msg_id)
            new += 1
        self._mat = None
        return new

    def delete(self, ids) -> None:
        self.live.difference_update(ids)

    def topk(self, q: np.ndarray, k: int) -> list[int]:
        """Row indices of the k nearest live rows, ordered (distance, id)."""
        if self._mat is None:
            self._mat = np.asarray(self._vecs, dtype=np.float32).astype(np.float64)
        diff = self._mat - q.astype(np.float64)
        # sequential left fold, like the engine's aggregate(zip_with(...))
        dist = np.sqrt(np.cumsum(diff * diff, axis=1)[:, -1])
        live = np.fromiter((i in self.live for i in self.ids), bool, len(self.ids))
        dist = np.where(live, dist, np.inf)
        cut = np.partition(dist, min(k, len(dist)) - 1)[min(k, len(dist)) - 1]
        cand = [int(i) for i in np.flatnonzero(dist <= cut) if live[i]]
        cand.sort(key=lambda i: (dist[i], self.ids[i]))
        return cand[:k]

    def same_hits(self, q: np.ndarray, hits: list[tuple[str, float]], k: int) -> bool:
        """Whether engine hits (id, distance) are a valid top-k: each id
        live, each distance the brute-force one, and the distance list
        equal to the brute-force list (so only tied ids may differ)."""
        want = self.topk(q, k)
        index = {msg_id: i for i, msg_id in enumerate(self.ids)}
        if len(hits) != len(want) or any(h[0] not in self.live for h in hits):
            return False
        qd = q.astype(np.float64)
        for (msg_id, dist), w in zip(hits, want):
            diff = self._mat[index[msg_id]] - qd
            mine = float(np.sqrt(np.cumsum(diff * diff)[-1]))
            wdiff = self._mat[w] - qd
            best = float(np.sqrt(np.cumsum(wdiff * wdiff)[-1]))
            if abs(mine - dist) > 1e-9 or abs(best - dist) > 1e-9:
                return False
        return True

    def context(self, rows: list[int]) -> str:
        """What ``assemble_context`` must return for these hits."""
        return "\n\n".join(self.texts[i] for i in rows)
