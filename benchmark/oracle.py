"""Correctness oracles computed by the benchmark, never by the engine.

Each check returns ``None`` when the engine's answer is right and a short
reason string when it is wrong; the caller counts a wrong answer as a
failed op.
"""

from __future__ import annotations

import json

import numpy as np

from gen import Shadow

DIST_RTOL = 1e-5
DIST_ATOL = 1e-4


def knn(shadow: Shadow, queries: np.ndarray, k: int):
    """Exact L2 top-k per query with the ``(distance, id)`` tie-break."""
    base = shadow.vecs.astype(np.float64)
    out = []
    for q in queries.astype(np.float64):
        d = np.sqrt(((base - q) ** 2).sum(axis=1))
        order = np.lexsort((shadow.ids, d))[:k]
        out.append((shadow.ids[order], d[order], d))
    return out


def check_search(shadow: Shadow, queries: np.ndarray, k: int, got):
    if len(got) != len(queries):
        return f"{len(got)} result lists for {len(queries)} queries"
    pos = {int(i): r for r, i in enumerate(shadow.ids.tolist())}
    for qi, (ids, dists, all_d) in enumerate(knn(shadow, queries, k)):
        recs = got[qi]
        if len(recs) != k:
            return f"query {qi}: {len(recs)} hits, want {k}"
        gd = np.array([r.distance for r in recs])
        if not np.allclose(gd, dists, rtol=DIST_RTOL, atol=DIST_ATOL):
            return f"query {qi}: distances {gd[:3]} want {dists[:3]}"
        for r in recs:
            row = pos.get(int(r.id))
            if row is None:
                return f"query {qi}: id {r.id} is not in the store"
            if not np.isclose(all_d[row], r.distance, rtol=DIST_RTOL,
                              atol=DIST_ATOL):
                return f"query {qi}: id {r.id} distance {r.distance}"
            if not np.array_equal(r.vec, shadow.vecs[row]) \
                    or json.dumps(r.doc) != shadow.docs[int(r.id)]:
                return f"query {qi}: payload of id {r.id} differs"
        # where the oracle's distances are strictly separated, ids must agree
        sep = np.diff(dists) > DIST_ATOL
        strict = np.concatenate([[True], sep]) & np.concatenate([sep, [True]])
        gids = np.array([r.id for r in recs])
        if not np.array_equal(gids[strict], ids[strict]):
            return f"query {qi}: ids {gids.tolist()} want {ids.tolist()}"
    return None


def check_records(shadow: Shadow, want_ids: list, got):
    """``select_ids`` / ``query_by_doc``: exactly these ids, id-ordered,
    with the stored vec and doc."""
    gids = [r.id for r in got]
    if gids != sorted(want_ids):
        return f"ids {gids[:8]} want {sorted(want_ids)[:8]}"
    pos = {int(i): r for r, i in enumerate(shadow.ids.tolist())}
    for r in got:
        if not np.array_equal(r.vec, shadow.vecs[pos[r.id]]) \
                or json.dumps(r.doc) != shadow.docs[r.id]:
            return f"payload of id {r.id} differs"
    return None


def filter_ids(shadow: Shadow, path: list, values: list) -> list:
    """JSON-path filter oracle: the docs whose value at ``path`` equals one
    of ``values`` (compared as strings, the engine's documented rule)."""
    want = {str(v) for v in values}
    out = []
    for i, s in shadow.docs.items():
        v = json.loads(s)
        for p in path:
            v = v.get(p) if isinstance(v, dict) else None
        if v is not None and not isinstance(v, (dict, list)) \
                and str(v) in want:
            out.append(i)
    return out


def lcs_len(a: str, b: str) -> int:
    """LCS length by the Allison-Dix bit-vector recurrence over ``a``."""
    masks: dict = {}
    for i, ch in enumerate(a):
        masks[ch] = masks.get(ch, 0) | (1 << i)
    full = (1 << len(a)) - 1
    row = full
    for ch in b:
        m = row & masks.get(ch, 0)
        row = ((row + m) | (row - m)) & full
    return len(a) - bin(row).count("1")


def indel_distance(a: str, b: str) -> float:
    """``100 - fuzz.ratio``: InDel distance normalised to [0, 100]."""
    total = len(a) + len(b)
    if total == 0:
        return 0.0
    return 100.0 - 100.0 * (1.0 - (total - 2 * lcs_len(a, b)) / total)


def check_fuzzy(shadow: Shadow, query: dict, k: int, got):
    q = json.dumps(query)
    scored = sorted((round(indel_distance(q, s), 9), i)
                    for i, s in shadow.docs.items())
    want = scored[:k]
    if len(got) != 1 or len(got[0]) != len(want):
        return f"fuzzy: {[len(g) for g in got]} hits, want {len(want)}"
    gotp = [(round(r.distance, 9), r.id) for r in got[0]]
    if gotp != want:
        return f"fuzzy: {gotp[:3]} want {want[:3]}"
    return None


def pair_set(rows) -> set:
    return {(min(a, b), max(a, b)) for a, b in rows}
