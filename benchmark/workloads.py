"""The workloads: each drives the engine's public functions with inputs
from ``gen`` and checks every answer with ``oracle``.

A workload has four phases.  ``prepare`` generates inputs and writes them
to disk (not timed).  ``open`` and ``warm`` run once per set-up and make
up ``setup_s``.  ``ops`` yields the measured
op stream, a fixed cycle of ``CYCLE_OPS`` ops; ``execute`` is the timed
call, ``check`` the untimed oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings

import numpy as np

import gen
import oracle
from tracing import Tracer


def _write_parquet(path: str, table, files: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for j in range(files):
        pq.write_table(table.slice(j * step, step),
                       os.path.join(path, f"part-{j:05d}.parquet"))


def tree_bytes_files(path: str) -> tuple:
    total = files = 0
    for r, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(r, n))
            files += 1
    return total, files


class StoreWorkload:
    """``store_churn``: ``VectorStore`` reads interleaved with writes and
    maintenance, checked against a shadow model of the store."""

    CYCLE_OPS = gen.STORE_CYCLE_OPS

    def __init__(self, seed: int, work: str, cores: int, trace: bool):
        self.seed, self.work, self.cores = seed, work, cores
        self.root = os.path.join(work, "store")
        self.user_bytes_inserted = 0

    def prepare(self) -> None:
        import pyarrow as pa

        self.data = gen.store_data(self.seed)
        self.shadow = gen.Shadow.from_data(self.data)
        n, dim = self.data.vecs.shape
        table = pa.table({
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "vec": pa.FixedSizeListArray.from_arrays(
                pa.array(self.data.vecs.reshape(-1)), dim).cast(
                    pa.list_(pa.field("element", pa.float32(),
                                      nullable=False))),
            "doc": pa.array([json.dumps(d) for d in self.data.docs]),
        })
        _write_parquet(os.path.join(self.root, "v000000"), table, self.cores)
        with open(os.path.join(self.root, "_CURRENT"), "w") as f:
            f.write("0")

    def open(self, spark) -> None:
        from vector_db_at_home_spark.store import VectorStore

        self.spark = spark
        self.store = VectorStore(spark, self.root, self.data.vecs.shape[1])

    def warm(self, rep: int) -> None:
        """Every set-up runs one search, which fills the new handle's index
        cache.  The first also runs one of every other op (codegen, the
        Python worker pool), the write path on a throwaway store so that
        the measured store stays untouched."""
        from vector_db_at_home_spark.store import VectorStore

        d = self.data
        self.store.search(d.vecs[:1], gen.K)
        if rep > 0:
            return
        self.store.search_by_doc([d.docs[0]], gen.K)
        self.store.search(d.vecs[:gen.BATCH_QUERIES], gen.K)
        self.store.query_by_doc(["cat"], [0, 1])
        self.store.select_ids(list(range(gen.LOOKUP_IDS)))
        scratch = os.path.join(self.work, "warm-store")
        s = VectorStore(self.spark, scratch, d.vecs.shape[1])
        s.insert(d.vecs[:gen.INSERT_ROWS], d.docs[:gen.INSERT_ROWS])
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            s.delete([0, 1, 10 ** 9])
        s.compact()
        s.vacuum(keep_last=1)
        shutil.rmtree(scratch)

    def ops(self):
        return gen.store_ops(self.seed, self.data, self.shadow)

    def index_cached(self) -> bool:
        """Whether Spark's storage info holds cached partitions (the store's
        (id, vec) projection is the only thing this workload persists)."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return any(i.numCachedPartitions() > 0 for i in infos)

    def execute(self, op: str, a: dict, tracer, op_id: int):
        st = self.store
        with tracer.span(f"store.{op}", op_id):
            if op in ("search", "search_batch"):
                return st.search(a["queries"], gen.K)
            if op == "fuzzy":
                return st.search_by_doc([a["doc"]], gen.K)
            if op == "filter":
                return st.query_by_doc(["cat"], a["values"])
            if op == "lookup":
                return st.select_ids(a["ids"])
            if op == "insert":
                return st.insert(a["vecs"], a["docs"])
            if op == "delete":
                with warnings.catch_warnings(record=True) as caught:
                    warnings.simplefilter("always")
                    st.delete(a["ids"])
                return [str(w.message) for w in caught
                        if issubclass(w.category, UserWarning)]
            if op == "maintain":
                st.compact()
                return st.vacuum(keep_last=1)
        raise ValueError(f"unknown op {op}")

    def check(self, op: str, a: dict, res):
        sh = self.shadow
        if op in ("search", "search_batch"):
            return oracle.check_search(sh, a["queries"], gen.K, res)
        if op == "fuzzy":
            return oracle.check_fuzzy(sh, a["doc"], gen.K, res)
        if op == "filter":
            return oracle.check_records(
                sh, oracle.filter_ids(sh, ["cat"], a["values"]), res)
        if op == "lookup":
            return oracle.check_records(
                sh, [i for i in a["ids"] if i in sh.docs], res)
        if op == "insert":
            sh.insert(a["vecs"], a["docs"])
            self.user_bytes_inserted += a["vecs"].nbytes + sum(
                len(json.dumps(d)) for d in a["docs"])
            return None
        if op == "delete":
            missing = sh.delete(a["ids"])
            warned = [m for m in res if "not present" in m]
            if bool(missing) != bool(warned) or (
                    missing and str(missing) not in warned[0]):
                return f"delete warned {warned}, missing ids {missing}"
            return None
        if op == "maintain":
            if len(self.store.versions()) != 1:
                return f"vacuum kept versions {self.store.versions()}"
            return None
        return f"unknown op {op}"

    def final_check(self):
        """Max(id)+1 allocation and deletes: the store holds exactly the
        shadow's ids."""
        got = sorted(r.id for r in self.store.df().select("id").collect())
        if got != self.shadow.ids.tolist():
            return (f"store holds {len(got)} ids, shadow "
                    f"{len(self.shadow.ids)}")
        return None

    def work_items(self, op: str) -> int:
        return 1

    def facts(self) -> dict:
        """Store shape at the end of the run, read while the session is
        up."""
        return {"snapshot_files": len(self.store.df().inputFiles()),
                "versions": len(self.store.versions())}

    def live_user_bytes(self) -> int:
        return self.shadow.vecs.nbytes + sum(
            len(s) for s in self.shadow.docs.values())


class CorpusWorkload:
    """``corpus_clean``: both corpus-cleaning paths.  Each cycle admits one
    shard through the production ingest loop
    (``pipeline.clean_corpus_admit_batch`` with a stable ``batch_id``,
    against the cascade state that ``clean_corpus_states_build`` makes in
    set-up), then runs one batch dedup pass over a separate corpus with
    planted near-dup chains."""

    N_DOCS = 600
    SHARDS = 6          # more than a run admits
    CYCLE_OPS = 2

    def __init__(self, seed: int, work: str, cores: int, trace: bool):
        self.seed, self.work, self.cores, self.trace = (
            seed, work, cores, trace)
        self.root = os.path.join(work, "state")
        self.walls: list = []
        self.files_created: list = []
        self.docs_in = self.survivors = 0

    def prepare(self) -> None:
        import pyarrow as pa

        self.data = gen.dedup_data(self.seed, n_docs=self.N_DOCS,
                                   n_chains=self.N_DOCS // 25)
        self.warm_data = gen.dedup_data(self.seed, n_docs=200, n_chains=8,
                                        stream=6)
        self.expected = self.data.expected_kept()
        for name, d in (("corpus", self.data), ("warm", self.warm_data)):
            table = pa.table({
                "doc_id": pa.array([i for i, _ in d.docs], pa.int64()),
                "text": pa.array([t for _, t in d.docs]),
            })
            _write_parquet(os.path.join(self.work, name), table, self.cores)
        self.ingest = gen.ingest_data(self.seed, self.SHARDS)

    def _frames(self, rows, emb):
        docs = self.spark.createDataFrame(
            rows, "doc_id long, text string, lang string")
        vecs = self.spark.createDataFrame(
            emb, "vec_id long, embedding array<double>")
        return docs, vecs

    def open(self, spark) -> None:
        """A fresh cascade state over the ingest corpus."""
        from vector_db_at_home_spark.operators.pipeline import (
            clean_corpus_states_build)

        self.spark = spark
        shutil.rmtree(self.root, ignore_errors=True)
        clean_corpus_states_build(
            spark, *self._frames(self.ingest.corpus, self.ingest.corpus_emb),
            self.root)

    def warm(self, rep: int) -> None:
        """First set-up: a full dedup pass over a small corpus (codegen and
        the Python worker pool).  The admit path is not warmed: a warm-up
        admit costs as much as the measured one, and the run's budget has
        no room for it, so the first measured admit carries its first-use
        cost."""
        if rep == 0:
            self._pass(os.path.join(self.work, "warm"), Tracer(None, False),
                       0)

    def ops(self):
        for i, shard in enumerate(self.ingest.shards):
            yield "admit", {"shard": shard, "batch_id": f"shard-{i}"}
            yield "dedup_pass", {}

    def _admit(self, a: dict, tracer, op_id: int):
        from vector_db_at_home_spark.operators.pipeline import (
            clean_corpus_admit_batch)

        before = tree_bytes_files(self.root)[1]
        stats: dict = {}
        with tracer.span("pipeline.clean_corpus_admit_batch", op_id):
            docs, vecs = self._frames(a["shard"].rows, a["shard"].emb)
            k, counts = clean_corpus_admit_batch(
                self.spark, self.root, docs, vecs,
                semantic_min_cosine=0.9, batch_id=a["batch_id"],
                stats=stats)
            kept = sorted(r.doc_id for r in k.collect())
        self.files_created.append(tree_bytes_files(self.root)[1] - before)
        return {"kept": kept, "counts": counts, "stats": stats}

    def _pass(self, path: str, tracer, op_id: int):
        from vector_db_at_home_spark.operators.dedup import (
            cosine_neardup_bucketed, minhash_lsh_pairs)
        from vector_db_at_home_spark.operators.featurize import hashing_embed
        from vector_db_at_home_spark.operators.graph import (
            drop_near_duplicates)

        with tracer.span("dedup_pass", op_id):
            docs = self.spark.read.parquet(path)
            with tracer.span("featurize.hashing_embed", op_id):
                emb = hashing_embed(docs, "text", "doc_id", dim=64) \
                    .localCheckpoint(eager=True)
            with tracer.span("dedup.minhash_lsh_pairs", op_id):
                mh = minhash_lsh_pairs(docs, "text", "doc_id") \
                    .select("id_a", "id_b").localCheckpoint(eager=True)
            with tracer.span("dedup.cosine_neardup_bucketed", op_id):
                cs = cosine_neardup_bucketed(emb, "vec", "id",
                                             min_cosine=0.9) \
                    .select("id_a", "id_b").localCheckpoint(eager=True)
            pairs = mh.unionByName(cs)
            with tracer.span("graph.drop_near_duplicates", op_id):
                kept = drop_near_duplicates(docs, pairs, "doc_id") \
                    .select("doc_id").collect()
        return {"kept": {r.doc_id for r in kept}, "mh": mh, "cs": cs,
                "pairs": pairs}

    def execute(self, op: str, a: dict, tracer, op_id: int):
        if op == "admit":
            return self._admit(a, tracer, op_id)
        return self._pass(os.path.join(self.work, "corpus"), tracer, op_id)

    def check(self, op: str, a: dict, res):
        if op == "admit":
            return self._check_admit(a, res)
        if self.trace:
            # label-propagation rounds through the public on_round callback
            # of a second, untimed components run over the same pairs
            from vector_db_at_home_spark.operators.graph import (
                connected_components)

            rounds = []
            connected_components(res["pairs"],
                                 on_round=lambda r, n: rounds.append(n))
            res["rounds"] = len(rounds)
        chain_of = {i: c for c, ch in enumerate(self.data.chains) for i in ch}
        found = set()
        for df in (res["mh"], res["cs"]):
            found |= oracle.pair_set((r.id_a, r.id_b) for r in df.collect())
        res["recall"] = len(found & set(self.data.planted)) / len(
            self.data.planted)
        stray = [p for p in found
                 if chain_of.get(p[0], -1) != chain_of.get(p[1], -2)]
        if stray:
            return f"{len(stray)} pairs outside planted chains: {stray[:3]}"
        if res["kept"] != self.expected:
            return (f"kept {len(res['kept'])} docs, want "
                    f"{len(self.expected)}")
        return None

    def _check_admit(self, a: dict, res):
        self.walls.append(res["stats"].get("stage_walls", {}))
        self.docs_in += len(a["shard"].rows)
        self.survivors += len(res["kept"])
        want = sorted(i for i, kind in a["shard"].origin.items()
                      if kind == "novel")
        if res["kept"] != want:
            extra = sorted(set(res["kept"]) - set(want))
            lost = sorted(set(want) - set(res["kept"]))
            kinds = [a["shard"].origin[i] for i in extra]
            return f"survivors differ: extra {extra[:4]} {kinds[:4]} " \
                   f"lost {lost[:4]}"
        return None

    def final_check(self):
        return None

    def work_items(self, op: str) -> int:
        return gen.INGEST_SHARD if op == "admit" else self.N_DOCS

    def facts(self) -> dict:
        return {}
