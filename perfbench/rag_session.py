"""rag_session: retrieval over 5,000 documents and 2,000 64-d vectors.

Set-up builds the BM25 and BRP-LSH indexes over a seeded 80% slice
(documents for BM25, vectors for BRP-LSH) under this run's own root.
Each round ingests one batch of held-out documents (`document_add`,
`hash_embedder` for their vectors, the two index appends), then runs the
read tools: brute `rag_search` and `find_similar`, the two index probes
(the BRP-LSH probe with the vectors just appended), `hybrid_search_rrf`
over the round's BM25 query and query vector, and `document_get`.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

import oracle
from datagen import DIM, VOCAB
from harness import Ctx, Op

K = 10
N_TABLES = 3
INGEST_BATCH = 10
APPEND_ID_OFFSET = 100_000  # vec_id of an ingested document's vector


class RagSession:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        rng = ctx.rng
        docs = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet")).to_pandas()
        self.docs = docs.set_index("doc_id", drop=False)
        self.vec_ids, self.vecs = oracle.load_vectors(os.path.join(ctx.data_dir, "embeddings.parquet"))
        # seeded 80/20 splits as modular rules, so the frames the program
        # sees carry a small predicate, not thousands of literal ids
        self.doc_rule = (int(rng.integers(1, 5)), int(rng.integers(0, 5)))
        self.vec_rule = (int(rng.integers(1, 5)), int(rng.integers(0, 5)))
        doc_ids = docs["doc_id"].to_numpy()
        held = doc_ids[self._held(doc_ids, self.doc_rule)]
        self.held_docs = [int(i) for i in rng.permutation(held)]  # ingest order
        self.base_docs = sorted(int(i) for i in doc_ids[~self._held(doc_ids, self.doc_rule)])
        self.index_rows = np.flatnonzero(~self._held(self.vec_ids, self.vec_rule))  # rows of vecs in the ANN indexes
        self.ingested: list[int] = []
        self.bm25 = oracle.Bm25()
        for i in self.base_docs:
            self.bm25.add(i, self.docs.at[i, "text"])
        self.appended_ids: list[int] = []
        self.appended_vecs: list[np.ndarray] = []
        self.planes = self._planes(rng)
        self.paths = {n: os.path.join(ctx.root, "index", n) for n in ("bm25", "brp")}
        self.recall = {"mllib_lsh": []}

    @staticmethod
    def _held(ids: np.ndarray, rule: tuple[int, int]) -> np.ndarray:
        a, b = rule
        return (ids * a + b) % 5 == 0

    @staticmethod
    def _held_col(col: str, rule: tuple[int, int]):
        from pyspark.sql import functions as F

        a, b = rule
        return (F.col(col) * a + b) % 5 == 0

    @staticmethod
    def _planes(rng) -> list[list[float]]:
        p = rng.normal(size=(N_TABLES, DIM))
        p /= np.linalg.norm(p, axis=1, keepdims=True)
        return p.tolist()

    # ------------------------------------------------------------- helpers

    def table(self, name: str):
        return self.ctx.load(name)

    def doc_store(self):
        """The documents currently in the store: the base slice plus every
        ingested batch."""
        from pyspark.sql import functions as F

        return self.table("documents").where(~self._held_col("doc_id", self.doc_rule) | F.col("doc_id").isin(self.ingested))

    def index_vectors(self):
        return self.table("embeddings").where(~self._held_col("vec_id", self.vec_rule))

    def ann_corpus(self) -> tuple[np.ndarray, np.ndarray]:
        ids = np.concatenate([self.vec_ids[self.index_rows], np.array(self.appended_ids, dtype=np.int64)])
        parts = [self.vecs[self.index_rows]] + ([np.stack(self.appended_vecs)] if self.appended_vecs else [])
        return ids, np.concatenate(parts)

    def setup(self) -> None:
        from mcp_synaptic_spark.operators.bm25_index import bm25_index_write
        from mcp_synaptic_spark.operators.similarity import mllib_lsh_index_write

        tr = self.ctx.tr
        base = self.table("documents").where(~self._held_col("doc_id", self.doc_rule))
        tr.call("operators.bm25_index.bm25_index_write", bm25_index_write, base, self.paths["bm25"])
        tr.call(
            "operators.similarity.mllib_lsh_index_write",
            mllib_lsh_index_write,
            self.index_vectors(),
            self.paths["brp"],
            self.planes,
            id_col="vec_id",
        )

    # --------------------------------------------------------------- round

    def round(self, i: int) -> list[Op]:
        from pyspark.sql import functions as F

        from mcp_synaptic_spark.operators import bm25_index as B
        from mcp_synaptic_spark.operators import documents as DOC
        from mcp_synaptic_spark.operators import rag as R
        from mcp_synaptic_spark.operators import retrieval as RET
        from mcp_synaptic_spark.operators import similarity as S
        from mcp_synaptic_spark.sources.embedders import hash_embedder

        tr, rng, spark = self.ctx.tr, self.ctx.rng, self.ctx.spark
        ops: list[Op] = []
        fresh: dict = {}  # this round's appended vectors, set by the hash_embedder check
        seen: dict = {}  # the rag_search and BM25 results, set by their checks

        def vectors_frame():
            values = ", ".join(
                f"(CAST({j} AS BIGINT), array({', '.join(repr(float(x)) + 'D' for x in v)}))" for j, v in fresh["vectors"]
            )
            return spark.sql(f"SELECT * FROM VALUES {values} AS t(vec_id, embedding)")

        def brute(q: np.ndarray, exclude: int | None = None):
            scores = np.round(np.clip(oracle.cosine(self.vecs, q), 0.0, 1.0), 6)
            keep = self.vec_ids != exclude if exclude is not None else np.ones(len(scores), bool)
            return self.vec_ids[keep], scores[keep], dict(zip(self.vec_ids.tolist(), scores.tolist()))

        def ranked_check(out, want, score_of, threshold):
            want = [(j, s) for j, s in want if s >= threshold]
            got = [(r["vec_id"], r["score"]) for r in sorted(out, key=lambda r: r["rank"])]
            return [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == list(range(1, len(out) + 1)) and (
                oracle.same_ranking(got, want, score_of.__getitem__)
            )

        # -- brute-force vector search over every vector
        qrow = int(rng.integers(0, len(self.vec_ids)))
        q = [float(x) for x in self.vecs[qrow]]
        q_threshold = float(rng.choice([0.0, 0.1, 0.2]))
        ids, scores, score_of = brute(self.vecs[qrow])

        def semantic():
            return R.rag_search(self.table("embeddings"), q, id_col="vec_id", threshold=q_threshold, limit=K)

        def rag_check(out, want=oracle.topk(ids, scores, K), score_of=score_of):
            seen["semantic"] = out
            return ranked_check(out, want, score_of, q_threshold)

        ops.append(Op("read", "rag_search", lambda: tr.rows("operators.rag.rag_search", semantic), rag_check))
        target = int(self.vec_ids[int(rng.integers(0, len(self.vec_ids)))])
        threshold = float(rng.choice([0.0, 0.1]))
        ids, scores, score_of = brute(self.vecs[self.vec_ids == target][0], exclude=target)
        ops.append(
            Op(
                "read",
                "find_similar",
                lambda t=target, th=threshold: tr.rows(
                    "operators.rag.find_similar",
                    lambda: R.find_similar(self.table("embeddings"), t, id_col="vec_id", threshold=th, limit=K),
                ),
                lambda out, w=oracle.topk(ids, scores, K), so=score_of, th=threshold: ranked_check(out, w, so, th),
            )
        )

        # -- BM25 probe against the pure-Python BM25 of the store's corpus
        query = " ".join(rng.choice(VOCAB, int(rng.integers(2, 5)), replace=False).tolist())

        def bm25_check(out):
            seen["lexical"] = out
            want = self.bm25.search(query, K)
            got = [(r["doc_id"], r["bm25"]) for r in out]
            scores_all = dict(self.bm25.search(query, len(self.bm25.dl)))
            return oracle.same_ranking(got, want, lambda j: scores_all.get(j, -1.0))

        ops.append(
            Op(
                "read",
                "bm25_search_indexed",
                lambda: tr.rows(
                    "operators.bm25_index.bm25_search_indexed",
                    lambda: B.bm25_search_indexed(spark, self.paths["bm25"], query, k=K),
                ),
                bm25_check,
            )
        )

        # -- the two rankings fused; checked against a pure-Python RRF of the
        # rag_search and BM25 results above, each checked against its model
        def hybrid():
            from pyspark.sql import Window

            def build():
                lex = B.bm25_search_indexed(spark, self.paths["bm25"], query, k=K)
                lex = lex.withColumn("rank", F.row_number().over(Window.orderBy(F.desc("bm25"), F.col("doc_id"))))
                sem = semantic().select(F.col("vec_id").alias("doc_id"), "rank")
                return RET.hybrid_search_rrf(lex, sem, k=K)

            return tr.rows("operators.retrieval.hybrid_search_rrf", build)

        def hybrid_check(out):
            lex = [r["doc_id"] for r in sorted(seen["lexical"], key=lambda r: (-r["bm25"], r["doc_id"]))]
            sem = [r["vec_id"] for r in sorted(seen["semantic"], key=lambda r: r["rank"])]
            want = oracle.rrf([lex, sem], K)
            got = sorted(out, key=lambda r: r["rank"])
            return len(got) == len(want) and all(
                (r["doc_id"], r["rank"], r["in_lexical"], r["in_semantic"]) == (j, rank, j in lex, j in sem)
                and abs(r["rrf"] - score) <= oracle.SCORE_TOL
                for r, (j, score, rank) in zip(got, want)
            )

        ops.append(Op("read", "hybrid_search_rrf", hybrid, hybrid_check))

        # -- approximate probes, checked by property
        def ann_check(out, name, qvec, score):
            cids, cvecs = self.ann_corpus()
            pos = {int(j): n for n, j in enumerate(cids)}
            rows = sorted(out, key=lambda r: r["rank"])
            if [r["rank"] for r in rows] != list(range(1, len(rows) + 1)) or len(rows) > K:
                return False
            if any(r["vec_id"] not in pos for r in rows):
                return False
            exact = oracle.cosine(cvecs, qvec)
            got = [r["score"] for r in rows]
            if any(a < b for a, b in zip(got, got[1:])):
                return False
            if any(abs(r["score"] - score(exact[pos[r["vec_id"]]])) > oracle.SCORE_TOL for r in rows):
                return False
            truth = {j for j, _ in oracle.topk(cids, exact, K)}
            self.recall[name].append(len(truth & {r["vec_id"] for r in rows}) / K)
            return True

        def lsh():
            idx, planes, bl = tr.call(
                "operators.similarity.mllib_lsh_index_load", S.mllib_lsh_index_load, spark, self.paths["brp"]
            )
            queries = vectors_frame().select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
            return tr.rows(
                "operators.similarity.mllib_lsh_topk_indexed",
                lambda: S.mllib_lsh_topk_indexed(queries, idx, planes, k=K, bucket_length=bl, id_col="vec_id"),
            )

        def lsh_check(out):
            # every vector appended this round finds itself at rank 1
            by_q = {j: [r for r in out if r["qid"] == j] for j, _ in fresh["vectors"]}
            return all(
                rows and min(rows, key=lambda r: r["rank"])["vec_id"] == j and ann_check(rows, "mllib_lsh", v, lambda c: round(c, 6))
                for (j, v), rows in zip(fresh["vectors"], by_q.values())
            )

        ops.append(Op("read", "mllib_lsh_topk_indexed", lsh, lsh_check))

        # -- point read
        store = self.base_docs + self.ingested
        doc_id = int(store[int(rng.integers(0, len(store)))])

        def get_check(out):
            text = self.docs.at[doc_id, "text"]
            r = out[0] if len(out) == 1 else None
            return r is not None and (
                r["text"],
                r["content_length"],
                r["word_count"],
                r["content_hash"],
                r["embedding_dimension"],
            ) == (
                text,
                len(text),
                len(text.split()),
                hashlib.md5(text.encode()).hexdigest(),
                64 if doc_id in set(self.vec_ids.tolist()) else None,
            )

        ops.append(
            Op(
                "read",
                "document_get",
                lambda: tr.rows(
                    "operators.documents.document_get",
                    lambda: DOC.document_get(self.doc_store(), self.table("embeddings"), doc_id),
                ),
                get_check,
            )
        )

        # -- ingest one held-out batch
        start = i * INGEST_BATCH
        batch = self.held_docs[start : start + INGEST_BATCH]
        new_docs = lambda: self.table("documents").where(F.col("doc_id").isin(batch))  # noqa: E731
        n_reads = len(ops)

        def add_check(out):
            want = {j: tuple(self.docs.loc[j, ["text", "lang", "source", "n_chars"]]) for j in batch}
            got = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"]) for r in out}
            if got != want:
                return False
            self.ingested.extend(batch)
            return True

        ops.append(
            Op(
                "write",
                "document_add",
                lambda: tr.rows(
                    "operators.documents.document_add",
                    lambda: DOC.document_add(self.doc_store(), new_docs()).where(F.col("doc_id").isin(batch)),
                ),
                add_check,
            )
        )

        def embed_check(out):
            got = {r["doc_id"]: np.array(r["embedding"], dtype=np.float64) for r in out}
            if sorted(got) != sorted(batch):
                return False
            for j, v in got.items():
                if np.abs(v - np.array(oracle.hash_vector(self.docs.at[j, "text"]))).max() > 1e-6:
                    return False
            fresh["vectors"] = [(APPEND_ID_OFFSET + j, got[j]) for j in sorted(got)]
            return True

        ops.append(
            Op(
                "write",
                "hash_embedder",
                lambda: tr.rows("sources.embedders.hash_embedder", lambda: hash_embedder(new_docs())),
                embed_check,
            )
        )

        def append_ok(res):
            return not res["skipped"] and res["n_batch"] == len(batch)

        def bm25_append_check(res):
            if not append_ok(res):
                return False
            for j in batch:
                self.bm25.add(j, self.docs.at[j, "text"])
            return True

        ops.append(
            Op(
                "write",
                "bm25_index_append",
                lambda: tr.call("operators.bm25_index.bm25_index_append", B.bm25_index_append, new_docs(), self.paths["bm25"]),
                bm25_append_check,
            )
        )
        def lsh_append_check(res):
            if not append_ok(res):
                return False
            for j, v in fresh["vectors"]:
                self.appended_ids.append(j)
                self.appended_vecs.append(v)
            return True

        ops.append(
            Op(
                "write",
                "mllib_lsh_index_append",
                lambda: tr.call(
                    "operators.similarity.mllib_lsh_index_append",
                    S.mllib_lsh_index_append,
                    vectors_frame(),
                    self.paths["brp"],
                    id_col="vec_id",
                ),
                lsh_append_check,
            )
        )
        # ingest first, so the reads see this round's batch
        return ops[n_reads:] + ops[:n_reads]

    def finish(self) -> bool:
        return True

    def layer_metrics(self) -> dict[str, float]:
        files = size = 0
        for p in self.paths.values():
            for d, _, names in os.walk(p):
                files += len(names)
                size += sum(os.path.getsize(os.path.join(d, f)) for f in names)
        out = {"index.files_on_disk": float(files), "index.bytes_on_disk": float(size)}
        for name, vals in self.recall.items():
            out[f"operators.similarity.{name}_recall_at_10"] = float(np.mean(vals)) if vals else 0.0
        return out

