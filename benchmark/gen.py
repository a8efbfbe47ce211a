"""Seeded input generators for every workload.

Each generator takes the seed as an argument and draws from its own
``numpy.random.default_rng`` stream, so the same seed gives byte-identical
inputs (``test_gen.py`` pins that).  The engine never sees the seed, only
what these functions return.  Every input plants structure whose answer
is known: clustered vectors, near-dup chains, exact dups, low-quality and
off-language docs, semantic dups.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# store workloads
# ---------------------------------------------------------------------------

STORE_ROWS = 5_000
STORE_DIM = 64
STORE_CLUSTERS = 32
TITLE_VOCAB = 400
TAGS = ("red", "green", "blue", "gold", "grey", "pink")
N_CATS = 8

# the fixed op-type cycle of store_churn: 4 writes interleaved with 8 reads,
# then one maintenance step per MAINTAIN_EVERY_WRITES writes
CHURN_CYCLE = ("insert", "lookup", "search", "delete", "filter", "search",
               "insert", "search_batch", "search", "delete", "fuzzy",
               "lookup")
MAINTAIN_EVERY_WRITES = 4
STORE_CYCLE_OPS = len(CHURN_CYCLE) + sum(
    op in ("insert", "delete") for op in CHURN_CYCLE) // MAINTAIN_EVERY_WRITES
INSERT_ROWS = 100
DELETE_IDS = 10
DELETE_ABSENT = 2
LOOKUP_IDS = 10
BATCH_QUERIES = 32
K = 10


def _title(rng: np.random.Generator) -> str:
    n = int(rng.integers(3, 7))
    ranks = np.minimum(rng.zipf(1.4, n), TITLE_VOCAB) - 1
    return " ".join(f"t{int(r)}" for r in ranks)


def store_doc(rng: np.random.Generator) -> dict:
    n_tags = int(rng.integers(1, 4))
    tags = sorted(rng.choice(len(TAGS), n_tags, replace=False).tolist())
    return {"title": _title(rng), "cat": int(rng.integers(0, N_CATS)),
            "tags": [TAGS[t] for t in tags]}


@dataclass
class StoreData:
    centers: np.ndarray          # (clusters, dim) float32
    vecs: np.ndarray             # (rows, dim) float32, row i has id i
    docs: list                   # dicts, row i has id i


def store_data(seed: int, rows: int = STORE_ROWS,
               dim: int = STORE_DIM) -> StoreData:
    rng = np.random.default_rng([seed, 1])
    centers = (rng.standard_normal((STORE_CLUSTERS, dim)) * 4.0) \
        .astype(np.float32)
    assign = rng.integers(0, STORE_CLUSTERS, rows)
    vecs = (centers[assign]
            + rng.standard_normal((rows, dim)).astype(np.float32))
    docs = [store_doc(rng) for _ in range(rows)]
    return StoreData(centers, vecs.astype(np.float32), docs)


@dataclass
class Shadow:
    """The benchmark's own model of the store: what it must hold after
    every write.  Ids follow the reference's rule: an insert starts at the
    current max(id)+1, so inner holes are never reused but deleting the
    top ids lowers the next start."""

    ids: np.ndarray                       # int64, ascending
    vecs: np.ndarray                      # float32, aligned with ids
    docs: dict = field(default_factory=dict)   # id -> json string

    @classmethod
    def from_data(cls, data: StoreData) -> "Shadow":
        n = len(data.vecs)
        return cls(np.arange(n, dtype=np.int64), data.vecs.copy(),
                   {i: json.dumps(d) for i, d in enumerate(data.docs)})

    @property
    def next_id(self) -> int:
        return int(self.ids.max()) + 1 if len(self.ids) else 0

    def insert(self, vecs: np.ndarray, docs: list) -> np.ndarray:
        new = np.arange(self.next_id, self.next_id + len(vecs),
                        dtype=np.int64)
        self.ids = np.concatenate([self.ids, new])
        self.vecs = np.concatenate([self.vecs, vecs])
        for i, d in zip(new.tolist(), docs):
            self.docs[i] = json.dumps(d)
        return new

    def delete(self, ids: list) -> list:
        gone = set(ids)
        keep = ~np.isin(self.ids, list(gone))
        self.ids, self.vecs = self.ids[keep], self.vecs[keep]
        present = [i for i in ids if i in self.docs]
        for i in present:
            del self.docs[i]
        return sorted(set(ids) - set(present))


def _queries(rng: np.random.Generator, shadow: Shadow, centers: np.ndarray,
             n: int, first: int = 0) -> np.ndarray:
    """Half perturb stored vectors, half are fresh draws near a center
    (alternating, starting with ``first``'s parity)."""
    out = np.empty((n, shadow.vecs.shape[1]), np.float32)
    for j in range(n):
        if (first + j) % 2 == 0:
            row = int(rng.integers(0, len(shadow.ids)))
            out[j] = shadow.vecs[row] + rng.normal(0, 0.05, out.shape[1])
        else:
            c = int(rng.integers(0, len(centers)))
            out[j] = centers[c] + rng.normal(0, 1.5, out.shape[1])
    return out


def _fuzzy_query(rng: np.random.Generator, shadow: Shadow,
                 fresh: bool) -> dict:
    """A fresh doc, or a stored doc with one title word swapped."""
    if fresh:
        return store_doc(rng)
    row = int(rng.integers(0, len(shadow.ids)))
    doc = json.loads(shadow.docs[int(shadow.ids[row])])
    words = doc["title"].split(" ")
    words[int(rng.integers(0, len(words)))] = \
        f"t{int(rng.integers(0, TITLE_VOCAB))}"
    doc["title"] = " ".join(words)
    return doc


def store_ops(seed: int, data: StoreData, shadow: Shadow):
    """Endless op stream ``(op, args)``.  Arguments that depend on the
    store's contents are drawn from ``shadow``, which the caller updates
    as writes apply, so the stream is a pure function of the seed."""
    rng = np.random.default_rng([seed, 2])
    cycle = CHURN_CYCLE
    writes = 0
    seen = {op: 0 for op in cycle}     # per-type count: alternates query kinds
    i = 0
    while True:
        op = cycle[i % len(cycle)]
        i += 1
        seen[op] += 1
        if op == "search":
            yield op, {"queries": _queries(rng, shadow, data.centers, 1,
                                           seen[op])}
        elif op == "search_batch":
            yield op, {"queries": _queries(rng, shadow, data.centers,
                                           BATCH_QUERIES)}
        elif op == "fuzzy":
            yield op, {"doc": _fuzzy_query(rng, shadow, seen[op] % 2 == 0)}
        elif op == "filter":
            cats = rng.choice(N_CATS, 2, replace=False)
            yield op, {"values": sorted(int(c) for c in cats)}
        elif op == "lookup":
            # mostly live ids; deleted ids may come up
            hi = shadow.next_id
            yield op, {"ids": sorted(set(
                rng.integers(0, hi, LOOKUP_IDS).tolist()))}
        elif op == "insert":
            c = rng.integers(0, len(data.centers), INSERT_ROWS)
            vecs = (data.centers[c] + rng.standard_normal(
                (INSERT_ROWS, data.vecs.shape[1]))).astype(np.float32)
            yield op, {"vecs": vecs,
                       "docs": [store_doc(rng) for _ in range(INSERT_ROWS)]}
            writes += 1
        elif op == "delete":
            live = rng.choice(shadow.ids, DELETE_IDS - DELETE_ABSENT,
                              replace=False).tolist()
            absent = [shadow.next_id + 1000 + int(x) for x in
                      rng.integers(0, 10_000, DELETE_ABSENT)]
            yield op, {"ids": sorted(set(int(x) for x in live + absent))}
            writes += 1
        if op in ("insert", "delete") \
                and writes % MAINTAIN_EVERY_WRITES == 0:
            yield "maintain", {}


# ---------------------------------------------------------------------------
# corpus workloads
# ---------------------------------------------------------------------------

CORPUS_VOCAB = 20_000
DOC_WORDS = 40


def _words(rng: np.random.Generator, n: int = DOC_WORDS) -> list:
    # uniform over a wide vocabulary: unrelated docs share ~no 3-shingle and
    # their signed-hash embeddings sit near cosine 0
    return [f"v{int(x)}" for x in rng.integers(0, CORPUS_VOCAB, n)]


def _edit(rng: np.random.Generator, words: list) -> list:
    out = list(words)
    out[int(rng.integers(0, len(out)))] = f"v{int(rng.integers(0, CORPUS_VOCAB))}"
    return out


@dataclass
class DedupData:
    docs: list          # (doc_id, text), doc ids shuffled
    chains: list        # list of id lists; each chain is one dup cluster
    planted: list       # (id_a, id_b) adjacent chain links, id_a < id_b

    def expected_kept(self) -> set:
        drop = {i for ch in self.chains for i in ch if i != min(ch)}
        return {d for d, _ in self.docs} - drop


def dedup_data(seed: int, n_docs: int = 1000, n_chains: int = 40,
               chain_len: int = 5, stream: int = 4) -> DedupData:
    """Background docs plus near-dup chains: each link is one word edit of
    the previous doc (Jaccard ~0.86 on 3-shingles, cosine ~0.97), so a chain
    is one connected component whose ends may sit below threshold of each
    other and need several label-propagation rounds."""
    rng = np.random.default_rng([seed, stream])
    texts = []
    chain_rows = []
    for _ in range(n_chains):
        w = _words(rng)
        rows = []
        for _ in range(chain_len):
            rows.append(len(texts))
            texts.append(" ".join(w))
            w = _edit(rng, w)
        chain_rows.append(rows)
    while len(texts) < n_docs:
        texts.append(" ".join(_words(rng)))
    ids = rng.permutation(len(texts)).astype(np.int64)
    docs = [(int(ids[r]), t) for r, t in enumerate(texts)]
    chains = [[int(ids[r]) for r in rows] for rows in chain_rows]
    planted = [tuple(sorted((ch[j], ch[j + 1])))
               for ch in chains for j in range(len(ch) - 1)]
    return DedupData(docs, chains, planted)


# corpus_clean ingest: an initial corpus plus shards that plant every screen's
# target.  Embeddings are random unit-ish vectors (unrelated docs sit near
# cosine 0 in 64-d); a semantic dup is a stored vector plus small noise.
INGEST_DIM = 64
INGEST_CORPUS = 400
INGEST_SHARD = 60
ORIGINS = ("novel", "exact_corpus", "near_corpus", "near_earlier",
           "low_quality", "off_lang", "semantic")
# per shard: how many docs of each planted kind (the rest are novel)
INGEST_PLANT = {"exact_corpus": 4, "near_corpus": 4, "near_earlier": 4,
                "low_quality": 4, "off_lang": 4, "semantic": 4}


@dataclass
class IngestShard:
    rows: list          # (doc_id, text, lang)
    emb: list           # (vec_id, list[float])
    origin: dict        # doc_id -> planted kind


@dataclass
class IngestData:
    corpus: list
    corpus_emb: list
    shards: list = field(default_factory=list)


def _vec(rng: np.random.Generator) -> np.ndarray:
    return rng.standard_normal(INGEST_DIM)


def ingest_data(seed: int, n_shards: int,
                corpus_size: int = INGEST_CORPUS,
                shard_size: int = INGEST_SHARD) -> IngestData:
    rng = np.random.default_rng([seed, 5])
    texts = [" ".join(_words(rng)) for _ in range(corpus_size)]
    vecs = [_vec(rng) for _ in range(corpus_size)]
    data = IngestData(
        [(i, t, "en") for i, t in enumerate(texts)],
        [(i, v.tolist()) for i, v in enumerate(vecs)])
    novel_so_far: list = []        # (text, vec) of earlier shards' novels
    next_id = corpus_size
    for s in range(n_shards):
        earlier = list(novel_so_far)
        kinds = [k for k, n in INGEST_PLANT.items() for _ in range(n)]
        kinds += ["novel"] * (shard_size - len(kinds))
        kinds = [kinds[i] for i in rng.permutation(len(kinds))]
        shard = IngestShard([], [], {})
        for kind in kinds:
            if kind == "near_earlier" and not earlier:
                kind = "near_corpus"
            j = int(rng.integers(0, corpus_size))
            text, lang, vec = " ".join(_words(rng)), "en", _vec(rng)
            if kind == "exact_corpus":
                text = texts[j]
            elif kind == "near_corpus":
                text = " ".join(_edit(rng, texts[j].split(" ")))
            elif kind == "near_earlier":
                t0, _ = earlier[int(rng.integers(0, len(earlier)))]
                text = " ".join(_edit(rng, t0.split(" ")))
            elif kind == "low_quality":
                w = _words(rng, 4)
                text = " ".join(w[int(x)] for x in rng.integers(0, 4, DOC_WORDS))
            elif kind == "off_lang":
                lang = "xx"
            elif kind == "semantic":
                vec = vecs[j] + rng.normal(0, 0.05, INGEST_DIM)
            shard.rows.append((next_id, text, lang))
            shard.emb.append((next_id, vec.tolist()))
            shard.origin[next_id] = kind
            if kind == "novel":
                novel_so_far.append((text, vec))
            next_id += 1
        data.shards.append(shard)
    return data
