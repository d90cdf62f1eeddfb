"""Independent checks of the program's outputs.

Nothing here imports the program: point-in-polygon is a brute-force
planar even-odd test written for the benchmark, Jaccard is recomputed
with Python sets, and connected components with a union-find.
"""

from __future__ import annotations

import numpy as np

_MASK = (1 << 64) - 1


def _mix(x: np.ndarray) -> np.ndarray:
    # splitmix64 finaliser over uint64
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def hit_keys(point_idx, feature_id, loop_pos) -> np.ndarray:
    """One uint64 key per (point, feature_id, loop_pos) row."""
    p = np.asarray(point_idx, dtype=np.uint64)
    f = np.asarray(feature_id, dtype=np.uint64)
    q = np.asarray(loop_pos, dtype=np.uint64)
    return (p << np.uint64(32)) | (f << np.uint64(8)) | q


def digest(keys: np.ndarray) -> int:
    """Order-independent digest: sum of mixed keys modulo 2^64."""
    with np.errstate(over="ignore"):
        return int(_mix(np.asarray(keys, dtype=np.uint64)).sum(dtype=np.uint64)) & _MASK


def points_in_ring(px, py, ring) -> np.ndarray:
    """Open-boundary even-odd test of points (px, py) against one ring of
    [lng, lat] vertices (a repeated closing vertex is ignored). A point on
    an edge or vertex is outside."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    inside = np.zeros(len(px), dtype=bool)
    on_edge = np.zeros(len(px), dtype=bool)
    n = len(ring)
    for k in range(n):
        x1, y1 = ring[k]
        x2, y2 = ring[(k + 1) % n]
        straddle = (y1 <= py) != (y2 <= py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddle & (px < xint)
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        on_edge |= (
            (cross == 0.0)
            & (px >= min(x1, x2))
            & (px <= max(x1, x2))
            & (py >= min(y1, y2))
            & (py <= max(y1, y2))
        )
    return inside & ~on_edge


def brute_force_pip(lat, lng, loop_rows):
    """Every (point index, feature_id, loop_pos) with the point strictly
    inside the loop. Each ring is tested against the points inside its
    bounding box (found by a sorted-longitude range), which is every
    point that can be inside it."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    ok = ~(np.isnan(lat) | np.isnan(lng))
    order = np.flatnonzero(ok)[np.argsort(lng[ok], kind="stable")]
    slng = lng[order]
    out_p, out_f, out_q = [], [], []
    for r in loop_rows:
        ring = np.asarray(r["ring"], dtype=np.float64)
        x0, x1 = ring[:, 0].min(), ring[:, 0].max()
        y0, y1 = ring[:, 1].min(), ring[:, 1].max()
        lo = np.searchsorted(slng, x0, side="left")
        hi = np.searchsorted(slng, x1, side="right")
        cand = order[lo:hi]
        cand = cand[(lat[cand] >= y0) & (lat[cand] <= y1)]
        if len(cand) == 0:
            continue
        cand = cand[points_in_ring(lng[cand], lat[cand], ring)]
        out_p.append(cand)
        out_f.append(np.full(len(cand), r["feature_id"]))
        out_q.append(np.full(len(cand), r["loop_pos"]))
    if not out_p:
        return hit_keys([], [], [])
    return hit_keys(np.concatenate(out_p), np.concatenate(out_f), np.concatenate(out_q))


def compare_keys(expected: np.ndarray, got: np.ndarray) -> dict:
    """Count, digest and exact set difference of two key arrays."""
    e = np.asarray(expected, dtype=np.uint64)
    g = np.asarray(got, dtype=np.uint64)
    ue, ug = np.unique(e), np.unique(g)
    return {
        "expected_rows": int(len(e)),
        "rows": int(len(g)),
        "expected_digest": digest(e),
        "digest": digest(g),
        "duplicates": int(len(g) - len(ug)),
        "missing": int(len(np.setdiff1d(ue, ug))),
        "extra": int(len(np.setdiff1d(ug, ue))),
    }


def ngram_set(text: str, n: int = 3) -> set:
    """Distinct space-joined token n-grams; a document shorter than n
    tokens is one gram of all its tokens."""
    toks = [t for t in text.strip(" ").split(" ") if t != ""] or [""]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def check_ngram_pairs(texts, doc_a, doc_b, jaccard, threshold: float, n: int = 3) -> dict:
    """Recompute the exact Jaccard of every emitted pair. A pair is right
    when a < b, it appears once, its exact Jaccard reaches the threshold
    and equals the reported value to 1e-12."""
    grams: dict = {}

    def g(i):
        s = grams.get(i)
        if s is None:
            s = grams[i] = ngram_set(texts[i], n)
        return s

    seen = set()
    bad = 0
    for a, b, j in zip(doc_a, doc_b, jaccard):
        a, b = int(a), int(b)
        ga, gb = g(a), g(b)
        exact = len(ga & gb) / len(ga | gb)
        if a >= b or (a, b) in seen or exact < threshold or abs(exact - float(j)) > 1e-12:
            bad += 1
        seen.add((a, b))
    total = len(doc_a)
    return {"pairs": int(total), "wrong": bad,
            "precision": (total - bad) / total if total else 1.0}


def check_minhash_pairs(doc_a, doc_b, est, threshold: float, perms: int = 32) -> int:
    """Wrong rows among minhash pairs: a < b, unique, and an estimate that
    is a multiple of 1/perms at or above the threshold."""
    a = np.asarray(doc_a, dtype=np.int64)
    b = np.asarray(doc_b, dtype=np.int64)
    e = np.asarray(est, dtype=np.float64)
    m = e * perms
    bad = (a >= b) | (e < threshold) | (e > 1.0) | (np.abs(m - np.round(m)) > 1e-9)
    dup = len(a) - len(np.unique((a.astype(np.uint64) << np.uint64(32)) ^ b.astype(np.uint64)))
    return int(bad.sum()) + int(dup)


def components(doc_a, doc_b) -> dict:
    """{node: smallest node of its component} by union-find."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(doc_a, doc_b):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_components(doc_a, doc_b, node, component_id) -> int:
    """Wrong rows of a connected-components result: the node set must be
    the distinct pair endpoints, each node listed once, and each
    component_id the minimum node of its component."""
    want = components(doc_a, doc_b)
    got: dict = {}
    bad = 0
    for x, c in zip(node, component_id):
        x, c = int(x), int(c)
        if x in got or want.get(x) != c:
            bad += 1
        got[x] = c
    return bad + len(set(want) - set(got))
