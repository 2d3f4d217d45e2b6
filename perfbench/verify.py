"""Result checks, run after the timed region.

Each check returns None when the result is right and a one-line reason when
it is wrong. The references are computed independently of the program:
numpy for vector search, DuckDB for SQL, a pandas replay for writes and
committed row digests of the DuckDB oracles for the pipeline queries.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

DIST_TOL = 1e-6


def cosine_distances(vecs: np.ndarray, q) -> np.ndarray:
    v = vecs.astype(np.float64)
    q = np.asarray(q, dtype=np.float64)
    return 1.0 - (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))


def exact_topk(ids: np.ndarray, dists: np.ndarray, k: int,
               mask: np.ndarray | None = None) -> np.ndarray:
    """Ids of the ``k`` nearest rows (optionally among ``mask``)."""
    sel = np.flatnonzero(mask) if mask is not None else np.arange(len(ids))
    order = sel[np.argsort(dists[sel], kind="stable")]
    return ids[order[:k]]


def check_topk(rows, ids: np.ndarray, dists: np.ndarray, k: int,
               mask: np.ndarray | None = None) -> str | None:
    """``rows`` of (id, distance) must be the exact top-k of the eligible
    rows: right count, true distances, ascending, and nothing eligible that
    is nearer than the farthest row returned."""
    pos = {int(i): n for n, i in enumerate(ids)}
    eligible = mask if mask is not None else np.ones(len(ids), bool)
    want = min(k, int(eligible.sum()))
    if len(rows) != want:
        return f"{len(rows)} rows, expected {want}"
    got = []
    for rid, d in rows:
        n = pos.get(int(rid))
        if n is None or not eligible[n]:
            return f"id {rid} is not an eligible row"
        if abs(float(d) - dists[n]) > DIST_TOL:
            return f"id {rid}: distance {d} != {dists[n]:.9f}"
        got.append(float(d))
    if any(b < a - DIST_TOL for a, b in zip(got, got[1:])):
        return "distances not ascending"
    if len(set(int(r[0]) for r in rows)) != len(rows):
        return "duplicate ids"
    if want:
        kth = np.sort(dists[eligible])[want - 1]
        if got[-1] > kth + DIST_TOL:
            return f"missed a nearer row ({got[-1]:.9f} > {kth:.9f})"
    return None


def check_postfilter(rows, ids, dists, k: int, fetch_k: int,
                     mask: np.ndarray) -> str | None:
    """Reference-parity hybrid search: top ``fetch_k`` of all rows, then the
    filter, then the top ``k`` of what is left."""
    wide = np.zeros(len(ids), bool)
    wide[np.argsort(dists, kind="stable")[:fetch_k]] = True
    # rows tied with the fetch_k-th distance may fall either side of the cut
    cut = np.sort(dists)[min(fetch_k, len(dists)) - 1]
    if np.sum(np.abs(dists - cut) <= DIST_TOL) > 1:
        wide |= np.abs(dists - cut) <= DIST_TOL
    return check_topk(rows, ids, dists, k, mask & wide)


def ann_recall(rows, ids, dists, k: int) -> float:
    truth = set(int(i) for i in exact_topk(ids, dists, k))
    return len(truth & set(int(r[0]) for r in rows)) / k


def check_ann(rows, ids, dists, k: int) -> str | None:
    """An approximate top-k: right count, true distances, ascending. Which
    rows it finds is graded by recall, not failed."""
    if len(rows) != min(k, len(ids)):
        return f"{len(rows)} rows, expected {k}"
    pos = {int(i): n for n, i in enumerate(ids)}
    prev = -math.inf
    for rid, d in rows:
        n = pos.get(int(rid))
        if n is None:
            return f"id {rid} is not in the table"
        if abs(float(d) - dists[n]) > DIST_TOL:
            return f"id {rid}: distance {d} != {dists[n]:.9f}"
        if float(d) < prev - DIST_TOL:
            return "distances not ascending"
        prev = float(d)
    return None


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check_rows(got, want) -> str | None:
    """Ordered rows equal, floats to 1e-9 (sums may add in another order)."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for n, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_close(a, b) for a, b in zip(g, w)):
            return f"row {n}: {tuple(g)} != {tuple(w)}"
    return None


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def row_digest(columns, rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, cells
    by ``repr``, rows sorted. Both engines round in-query, so values must
    agree exactly."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()


def check_digest(columns, rows, want: dict) -> str | None:
    if len(rows) != want["rows"]:
        return f"{len(rows)} rows, expected {want['rows']}"
    if row_digest(columns, rows) != want["digest"]:
        return "row digest differs from the oracle's"
    return None


def check_snapshot(rows, want: dict) -> str | None:
    """``rows`` of (id, ver) must be exactly the replayed ``{id: ver}``."""
    got = {int(i): int(v) for i, v in rows}
    if len(got) != len(rows):
        return "duplicate keys"
    if got != want:
        missing = len(want.keys() - got.keys())
        extra = len(got.keys() - want.keys())
        stale = sum(1 for i in got.keys() & want.keys() if got[i] != want[i])
        return f"{missing} missing, {extra} extra, {stale} stale keys"
    return None
