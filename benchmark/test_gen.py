"""Determinism of the generators and sanity of the oracles.

    python3 -m pytest benchmark/test_gen.py -q
    python3 benchmark/test_gen.py

Needs NumPy only (no Spark).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402


def _digest(obj) -> str:
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, np.ndarray):
            h.update(str(x.dtype).encode() + x.tobytes())
        elif isinstance(x, (list, tuple)):
            h.update(b"[")
            for y in x:
                feed(y)
            h.update(b"]")
        elif isinstance(x, dict):
            feed(sorted((str(k), v) for k, v in x.items()))
        else:
            h.update(json.dumps(x).encode())

    feed(obj)
    return h.hexdigest()


def _store_stream(seed: int, n: int = 60) -> str:
    data = gen.store_data(seed)
    shadow = gen.Shadow.from_data(data)
    ops = []
    stream = gen.store_ops(seed, data, shadow)
    for _ in range(n):
        op, a = next(stream)
        ops.append((op, a))
        # apply writes as the workload's check does
        if op == "insert":
            shadow.insert(a["vecs"], a["docs"])
        elif op == "delete":
            shadow.delete(a["ids"])
    return _digest([data.vecs, data.docs, ops, shadow.ids])


def test_store_inputs_repeat_per_seed():
    assert _store_stream(7) == _store_stream(7)
    assert _store_stream(7) != _store_stream(8)


def test_churn_stream_repeats_its_cycle():
    data = gen.store_data(3)
    shadow = gen.Shadow.from_data(data)
    stream = gen.store_ops(3, data, shadow)
    cycles = []
    for _ in range(2):
        ops = []
        for _ in range(gen.STORE_CYCLE_OPS):
            op, a = next(stream)
            ops.append(op)
            if op == "insert":
                shadow.insert(a["vecs"], a["docs"])
            elif op == "delete":
                missing = shadow.delete(a["ids"])
                assert missing, "every delete plants absent ids"
        cycles.append(ops)
    assert cycles[0] == cycles[1]
    assert set(cycles[0]) == set(gen.CHURN_CYCLE) | {"maintain"}
    assert cycles[0].count("maintain") == 1


def test_dedup_inputs_repeat_per_seed():
    a, b = gen.dedup_data(5), gen.dedup_data(5)
    assert _digest([a.docs, a.chains, a.planted]) == \
        _digest([b.docs, b.chains, b.planted])
    assert _digest(gen.dedup_data(6).docs) != _digest(a.docs)
    kept = a.expected_kept()
    assert len(kept) == len(a.docs) - sum(len(c) - 1 for c in a.chains)
    assert len({i for i, _ in a.docs}) == len(a.docs)


def test_ingest_inputs_repeat_per_seed():
    a, b = gen.ingest_data(5, 3), gen.ingest_data(5, 3)
    key = [a.corpus, a.corpus_emb,
           [(s.rows, s.emb, s.origin) for s in a.shards]]
    assert _digest(key) == _digest(
        [b.corpus, b.corpus_emb, [(s.rows, s.emb, s.origin) for s in b.shards]])
    kinds = {k for s in a.shards for k in s.origin.values()}
    assert kinds == set(gen.ORIGINS)


def _lcs_dp(a: str, b: str) -> int:
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b):
            cur.append(prev[j] + 1 if ca == cb else max(prev[j + 1], cur[j]))
        prev = cur
    return prev[-1]


def test_lcs_matches_dynamic_programming():
    rng = np.random.default_rng(0)
    for _ in range(200):
        a = "".join(rng.choice(list("abc{}\" :"), int(rng.integers(0, 30))))
        b = "".join(rng.choice(list("abc{}\" :"), int(rng.integers(0, 30))))
        assert oracle.lcs_len(a, b) == _lcs_dp(a, b)
    assert oracle.indel_distance("abc", "abc") == 0.0
    assert oracle.indel_distance("", "") == 0.0


def test_knn_oracle_breaks_ties_by_id():
    sh = gen.Shadow(np.array([5, 2, 9], np.int64),
                    np.array([[1, 0], [0, 1], [1, 0]], np.float32))
    ids, dists, _ = oracle.knn(sh, np.array([[0, 0]], np.float32), 3)[0]
    assert ids.tolist() == [2, 5, 9] and np.allclose(dists, 1.0)


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
