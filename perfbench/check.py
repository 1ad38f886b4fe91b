"""Output checks: reference results recomputed in the benchmark process.

The reference chunker and embedder below follow the documented semantics
of ``operators/chunker.chunk_text`` (greedy paragraph fold, 400-token
budget) and ``operators/embedder.embed_text_py`` (sha256 feature hashing,
L2-normalised, float32), written out again so the checks do not trust the
code they check. Exact search responses are recomputed by brute force
over the warehouse rows: court-level filter, L2 distance, top-100 by
(distance, chunk_id), best chunk per file, top-5, win statistics.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

CHUNK_BUDGET = 400
DIM = 64
FETCH_K = 100
TOP_K = 5
WON, LOST = "appellant_won", "appellant_lost"


class CheckFailed(AssertionError):
    pass


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def chunks_of(text: str) -> list[str]:
    chunks, current = [], ""
    for para in (p.strip() for p in text.split("\n\n")):
        if not para:
            continue
        if len((current + para).split()) < CHUNK_BUDGET:
            current += "\n" + para
        else:
            chunks.append(current.strip())
            current = para
    if current:
        chunks.append(current.strip())
    return chunks


def stored_chunk_count(text: str) -> int:
    """Chunks a document stores: the empty ones get no embedding and are
    dropped."""
    return sum(1 for c in chunks_of(text) if c.split())


def embed(text: str) -> np.ndarray:
    vec = np.zeros(DIM)
    for tok in text.split():
        h = hashlib.sha256(tok.encode()).digest()
        vec[int.from_bytes(h[:4], "big") % DIM] += 1.0 if h[4] & 1 else -1.0
    norm = math.sqrt(float(vec @ vec))
    if norm == 0.0:  # every token cancelled out
        vec[0], norm = 1.0, 1.0
    return (vec / norm).astype(np.float32).astype(np.float64)


def query_vector(text: str) -> np.ndarray:
    return next(embed(c) for c in chunks_of(text) if c.split())


class Warehouse:
    """Warehouse rows as numpy columns, collected once after the timed
    window; ``mask`` restricts them to the rows a given request saw."""

    def __init__(self, pdf):
        self.chunk_id = pdf["chunk_id"].to_numpy()
        self.file_id = pdf["file_id"].to_numpy()
        self.file_name = pdf["file_name"].to_numpy()
        self.level = pdf["court_level"].to_numpy().astype(int)
        self.decision = pdf["case_decision"].to_numpy()
        self.emb = np.array([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])

    def distances(self, q: np.ndarray, rows: np.ndarray) -> np.ndarray:
        # left-to-right sums, the order the engine's aggregate() adds in
        return np.sqrt(np.cumsum((self.emb[rows] - q) ** 2, axis=1)[:, -1])

    def exact(self, text: str, level: int, mask: np.ndarray | None = None) -> list[dict]:
        rows = np.flatnonzero(self.level == level + 1)
        if mask is not None:
            rows = rows[mask[rows]]
        d = self.distances(query_vector(text), rows)
        order = np.lexsort((self.chunk_id[rows], d))[:FETCH_K]
        best: dict = {}
        for i in order:  # ascending, so the first hit of a file is its best
            best.setdefault(self.file_id[rows[i]], (d[i], rows[i]))
        top = sorted(best.values(), key=lambda t: (t[0], self.chunk_id[t[1]]))[:TOP_K]
        return [
            {
                "file_id": self.file_id[r],
                "file_name": self.file_name[r],
                "case_decision": self.decision[r],
                "dist": float(dist),
            }
            for dist, r in top
        ]

    def check_exact(self, resp: dict, text: str, level: int, mask=None) -> None:
        want = self.exact(text, level, mask)
        got = resp["results"]
        require(resp["status"] == "success", "status")
        require(
            [r["file_id"] for r in sorted(got, key=lambda r: r["file_id"])]
            == sorted(w["file_id"] for w in want),
            f"exact top-{TOP_K} files differ for level {level}",
        )
        by_file = {w["file_id"]: w for w in want}
        for r in got:
            w = by_file[r["file_id"]]
            require(abs(r["score"] - w["dist"]) <= 1.01e-4, "score")
            require(r["file_name"] == w["file_name"], "file_name")
            require(r["case_decision"] == w["case_decision"], "case_decision")
        self._check_shape(resp, level, len(want))

    def check_ann(self, resp: dict, text: str, level: int) -> None:
        """ANN tiers may miss neighbours, but every hit they return must be
        a real chunk of the target level at its exact distance."""
        rows = np.flatnonzero(self.level == level + 1)
        d = self.distances(query_vector(text), rows)
        for r in resp["results"]:
            mine = rows[self.file_id[rows] == r["file_id"]]
            require(len(mine) > 0, "ANN hit outside the target level")
            dists = d[np.isin(rows, mine)]
            require(np.min(np.abs(dists - r["score"])) <= 1.01e-4, "ANN score")
        self._check_shape(resp, level, len(resp["results"]))

    @staticmethod
    def _check_shape(resp: dict, level: int, n: int) -> None:
        got = resp["results"]
        require(resp["result_count"] == n == len(got), "result_count")
        require(
            [r["score"] for r in got] == sorted(r["score"] for r in got), "score order"
        )
        require(resp["query"]["input_court_level"] == level, "query level")
        wins = sum(r["case_decision"] == WON for r in got)
        valid = sum(r["case_decision"] in (WON, LOST) for r in got)
        st = resp["appellant_statistics"]
        require(st["win_count"] == wins, "win_count")
        require(st["total_valid_decisions"] == valid, "total_valid_decisions")
        require(st["invalid_decisions"] == n - valid, "invalid_decisions")
        pct = round(wins / valid * 100.0, 2) if valid else 0.0
        require(abs(st["win_percentage"] - pct) <= 0.006, "win_percentage")

    def recall(self, resp: dict, text: str, level: int) -> float:
        want = {w["file_id"] for w in self.exact(text, level)}
        return len(want & {r["file_id"] for r in resp["results"]}) / max(1, len(want))
