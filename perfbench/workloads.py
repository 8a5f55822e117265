"""The workloads. Each is a closed loop of one client: the next call is
issued only after the previous one returned.

Every call into the program runs inside a span that also forces its
result (``collect``, ``count`` or a write), so lazy plans are charged to
the call that built them. ``ivf_build`` therefore times k-means training
only: the cell assignment it sets up is lazy and runs inside
``ivf_save``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from oracle import SavedIndex, VectorTable, check_search, dir_files, recall_at_k
from vector_search_test_spark.functions.embed import embed_text
from vector_search_test_spark.operators.cluster import similarity_clusters
from vector_search_test_spark.operators.curate import curate_corpus
from vector_search_test_spark.operators.ivf import (
    ivf_append,
    ivf_build,
    ivf_load,
    ivf_save,
    ivf_search,
    ivf_search_all,
    rank_cells,
)


def _write_counts(span, path: str, before: dict[str, int]) -> None:
    """Files and bytes a write added under the index's postings."""
    new = {f: b for f, b in dir_files(os.path.join(path, "postings")).items()
           if f not in before}
    span.counts["files"] = len(new)
    span.counts["bytes"] = sum(new.values())


class AnnQuery:
    """ANN serving on a saved index: single-vector searches, with a batch
    of queries after every `singles_per_batch` of them. Loads the search
    path of operators/ivf.py and Spark's per-job overhead.

    Set-up is the index's write side: train (`ivf_build`), assign and
    write (`ivf_save`), append a 10 % delta (`ivf_append`) and reload
    (`ivf_load`); then searches for appended vectors, which must come
    back as their own nearest neighbour, and batches warm up the loop.
    """

    name = "ann_query"
    params = dict(n_base=9_000, n_delta=1_000, nlist=32, k=10, nprobe=4,
                  batch=128, singles_per_batch=4, fresh_searches=3,
                  warmup_singles=9, warmup_batches=3)

    def prepare(self, ctx) -> None:
        p = self.params
        n = p["n_base"] + p["n_delta"]
        self.mix = gen.Mixture()
        x = gen.corpus(ctx.seed, n, self.mix)
        ids = np.arange(n, dtype=np.int64)
        self.table = VectorTable(ids, x)
        self.base_path = ctx.path("base.parquet")
        self.delta_path = ctx.path("delta.parquet")
        gen.write_table(self.base_path, gen.vectors_table(ids[: p["n_base"]], x[: p["n_base"]]))
        gen.write_table(self.delta_path, gen.vectors_table(ids[p["n_base"]:], x[p["n_base"]:]))

    def setup(self, ctx) -> float:
        p = self.params
        n = p["n_base"] + p["n_delta"]
        path = ctx.path("index")
        took = 0.0
        with ctx.op() as op, ctx.tracer.span("bench.unit"):
            with ctx.tracer.span("ivf.ivf_build") as b:
                idx = ivf_build(ctx.spark.read.parquet(self.base_path), p["nlist"])
            with ctx.tracer.span("ivf.ivf_save") as s:
                ivf_save(idx, path)
            _write_counts(s, path, {})
            s.counts["vectors"] = p["n_base"]
            before = dir_files(os.path.join(path, "postings"))
            with ctx.tracer.span("ivf.ivf_append") as a:
                ivf_append(idx, path, ctx.spark.read.parquet(self.delta_path))
            _write_counts(a, path, before)
            with ctx.tracer.span("ivf.ivf_load") as ld:
                self.index = ivf_load(ctx.spark, path)
            took = b.duration + s.duration + a.duration + ld.duration
            self.saved = SavedIndex(path)
            if self.saved.ntotal != n:
                op.fail(f"saved index holds {self.saved.ntotal} of {n} vectors")
            ntotal = self.index.ntotal()
            if ntotal != n:
                op.fail(f"ntotal {ntotal} != {p['n_base']} + {p['n_delta']}")
        rng = gen.rng_for(ctx.seed, 100)
        own = rng.choice(p["n_delta"], size=p["fresh_searches"], replace=False) + p["n_base"]
        for v in own:
            took += self.single(ctx, self.table.x[v], own_id=int(v))
        # both plans keep speeding up over their first runs (JIT); without
        # these, loop latencies drifted down through a 15 s run
        for j in range(p["warmup_singles"]):
            took += self.single(ctx, gen.query_batch(ctx.seed, 2_000_000 + j, 1, self.mix)[0])
        for b in range(p["warmup_batches"]):
            took += self.batch(ctx, b, record=False)
        return took

    def step(self, ctx, i: int) -> None:
        every = self.params["singles_per_batch"] + 1
        if i % every == every - 1:
            self.batch(ctx, self.params["warmup_batches"] + i // every)
        else:
            self.single(ctx, gen.query_batch(ctx.seed, 1_000_000 + i, 1, self.mix)[0],
                        record=True)

    def single(self, ctx, q: np.ndarray, own_id: int | None = None,
               record: bool = False) -> float:
        """One ivf_search; `own_id`: q is that indexed vector, which must
        be its own nearest neighbour at distance 0."""
        p = self.params
        ql = [float(v) for v in q]
        took = 0.0
        with ctx.op() as op:
            with ctx.tracer.span("ivf.ivf_search") as s:
                rows = ivf_search(self.index, ql, k=p["k"], nprobe=p["nprobe"]).collect()
            took = s.duration
            res = [(r.vec_id, r.dist) for r in rows]
            op.check(check_search(res, q, p["k"], p["nprobe"], self.saved, self.table))
            if own_id is not None and (not res or res[0] != (own_id, 0.0)):
                op.fail(f"appended vector {own_id} is not its own nearest neighbour")
            if record:
                ctx.requests.append(took)
                ctx.add_quality(recall_at_k([r[0] for r in res], q, p["k"], self.table))
            if ctx.tracer.traced:
                self._scanned(s, [ql], len(res))
        return took

    def batch(self, ctx, b: int, record: bool = True) -> float:
        p = self.params
        qs = gen.query_batch(ctx.seed, b, p["batch"], self.mix)
        path = ctx.path("queries.parquet")
        gen.write_table(path, gen.vectors_table(
            np.arange(len(qs)), qs, "query_id", "query_vec"))
        took = 0.0
        with ctx.op() as op:
            with ctx.tracer.span("ivf.ivf_search_all") as s:
                rows = ivf_search_all(
                    self.index, ctx.spark.read.parquet(path), k=p["k"], nprobe=p["nprobe"]
                ).collect()
            took = s.duration
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(r.query_id, []).append((r.vec_id, r.dist))
            if len(by_q) != len(qs):
                op.fail(f"{len(by_q)} of {len(qs)} queries answered")
            for qi, q in enumerate(qs):
                res = sorted(by_q.get(qi, []), key=lambda t: (t[1], t[0]))
                op.check(check_search(res, q, p["k"], p["nprobe"], self.saved, self.table))
                if record:
                    ctx.add_quality(recall_at_k([r[0] for r in res], q, p["k"], self.table))
            if record:
                ctx.rates.append(len(qs) / took)
            if ctx.tracer.traced:
                self._scanned(s, [[float(v) for v in q] for q in qs], len(rows))
        return took

    def _scanned(self, span, queries, results: int) -> None:
        sizes = self.saved.cell_sizes
        span.counts["rows_scanned"] = sum(
            int(sizes[rank_cells(q, self.index.centroids, self.params["nprobe"])].sum())
            for q in queries
        )
        span.counts["results"] = results


class CorpusCurate:
    """The LLM-data pipeline and the reference's clustering on a fresh
    batch of documents per unit: embed_text -> similarity_clusters ->
    curate_corpus. Loads functions/embed.py, operators/cluster.py,
    operators/dedup.py and operators/curate.py, which ann_query never
    calls, and uses ivf_search_all as an all-queries self-join."""

    name = "corpus_curate"
    params = dict(n_docs=1_000, n_bench=40, nlist=16, nprobe=2)

    def prepare(self, ctx) -> None:
        self.topics = gen.Topics()
        self.bench = self.topics.benchmark(self.params["n_bench"])
        self.bench_path = ctx.path("bench.parquet")
        gen.write_table(self.bench_path, pa.table({
            "doc_id": pa.array(np.arange(len(self.bench), dtype=np.int64)),
            "text": pa.array(self.bench),
        }))

    def setup(self, ctx) -> float:
        """Warm-up: the first unit compiles every plan; after one unit the
        next still ran 10-25 % slower than later ones (JIT), so two."""
        return sum(self.unit(ctx, 10_000 + u, self.params["n_docs"], record=False)
                   for u in range(2))

    def step(self, ctx, i: int) -> None:
        self.unit(ctx, i, self.params["n_docs"])

    def unit(self, ctx, u: int, n_docs: int, record: bool = True) -> float:
        p = self.params
        table, planted = gen.curate_unit(ctx.seed, u, n_docs, self.topics, self.bench)
        docs_path = ctx.path(f"docs{u}.parquet")
        out_path = ctx.path(f"curated{u}")
        gen.write_table(docs_path, table)
        docs = ctx.spark.read.parquet(docs_path)
        took = 0.0
        with ctx.op() as op, ctx.tracer.span("bench.unit"):
            with ctx.tracer.span("embed.embed_text") as e:
                emb = embed_text(docs.select(F.col("doc_id").alias("id"), "text")).cache()
                emb.count()
            with ctx.tracer.span("cluster.similarity_clusters") as c:
                clusters = similarity_clusters(
                    emb, nlist=p["nlist"], nprobe=p["nprobe"]).collect()
            stage_times: dict[str, float] = {}
            with ctx.tracer.span("curate.curate_corpus") as cu:
                curate_corpus(
                    docs, ctx.spark.read.parquet(self.bench_path), stage_times=stage_times
                ).write.mode("overwrite").parquet(out_path)
            t = cu.start
            for stage in ("quality_exact_dedup", "near_dedup", "decontam"):
                ctx.tracer.child(cu, f"curate.{stage}", t, t + stage_times[stage])
                t += stage_times[stage]
            ctx.tracer.child(cu, "curate.tail", t, cu.end)
            took = e.duration + c.duration + cu.duration
            self._check(op, ctx, table, planted, emb, clusters, out_path, c, cu, record)
            emb.unpersist()
        if record:
            ctx.requests.append(took)
            ctx.rates.append(n_docs / took)
        shutil.rmtree(out_path, ignore_errors=True)
        return took

    def _check(self, op, ctx, table, planted, emb, clusters, out_path, c_span, cu_span,
               record):
        texts = table.column("text").to_pylist()
        ids = table.column("doc_id").to_pylist()
        # embed: unit-length 64-dim rows; identical texts, identical vectors
        got = {r.id: np.asarray(r.embedding, dtype=np.float64)
               for r in emb.select("id", "embedding").collect()}
        if set(got) != set(ids):
            op.fail("embed_text lost or invented rows")
        else:
            norms = np.array([np.linalg.norm(v) for v in got.values()])
            if (any(len(v) != gen.DIM for v in got.values())
                    or not np.allclose(norms, 1.0, atol=1e-5)):
                op.fail("embeddings are not unit-length 64-dim vectors")
            first: dict[str, int] = {}
            for i, t in zip(ids, texts):
                if not np.array_equal(got[i], got[first.setdefault(t, i)]):
                    op.fail("identical texts embedded differently")
                    break
        # clusters: one row per distinct text
        ctexts = [r.text for r in clusters]
        if len(ctexts) != len(set(ctexts)) or set(ctexts) != set(texts):
            op.fail("similarity_clusters is not one row per distinct text")
        sizes: dict = {}
        for r in clusters:
            sizes[r.cluster_id] = sizes.get(r.cluster_id, 0) + 1
        c_span.counts["clustered_ratio"] = (
            sum(n for n in sizes.values() if n > 1) / max(1, len(ctexts)))
        # curate: planted exact copies and benchmark copies are gone
        kept = set(pq.read_table(out_path, columns=["id"]).column("id").to_pylist())
        if not kept <= set(ids):
            op.fail("curate_corpus emitted unknown ids")
        if kept & set(planted["exact"]):
            op.fail("a planted exact duplicate survived curation")
        if kept & set(planted["bench"]):
            op.fail("a planted benchmark copy survived curation")
        if len(kept) < 0.5 * len(ids):
            op.fail(f"curation kept only {len(kept)} of {len(ids)} documents")
        cu_span.counts["kept_ratio"] = len(kept) / len(ids)
        if record:
            ctx.add_quality(len(set(planted["near"]) - kept), len(planted["near"]))


WORKLOADS = {w.name: w for w in (AnnQuery, CorpusCurate)}
