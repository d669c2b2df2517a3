"""rag-serve: the reference service's request path, with ingest, in a
closed loop.

One client over a 5,000-document / 2,000-vector corpus. Read requests
cycle rag, knn, rag, ivf (50% / 25% / 25%):

* rag -- ``pipeline.rag.search_with_summary``: embed stub, exact cosine
  top-5, payload join, format, top-3 prompt, LLM pandas UDF;
* knn -- ``operators.knn.knn_cosine_normalized_parquet`` on a normalized
  store written during set-up;
* ivf -- ``operators.ann.ivf_search_parquet`` (nprobe 3) on an IVF store
  built during set-up.

Query texts come from a seeded pool with Zipf frequencies, so head
queries repeat (gen.request_schedule). After every READS_PER_BATCH reads
the client runs one ingest batch on a separate, growing store (ingest.py:
a write, then probes whose queries never repeat), so the run holds both a
workload result reuse can hit and one it cannot.

The JVM keeps compiling the planner's hot code for the first few dozen
requests, so request times fall by a quarter or more over that span (more
on a slow host). Warm-up therefore runs WARM_CYCLES cycles of the read mix
before timing, on a query pool of its own so that every timed query is
first seen in the timed run.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import check
import gen
from base import Op, Workload, timed
from harness import median, tail_percentile
from ingest import PROBES, Ingest

KINDS = ("rag", "knn", "rag", "ivf")
POOL = 24
ZIPF_S = 1.3
RECALL_QUERIES = 400
READS_PER_BATCH = 16
WARM_CYCLES = 6
SCHEDULE = 2_000
K = 5
NPROBE = 3
CELLS = 16


class RagServe(Workload):
    name = "rag-serve"

    def __init__(self, spark, tracer, seed: int, work: str):
        super().__init__(spark, tracer, seed, work)
        self.ingest = Ingest(spark, tracer, seed, os.path.join(work, "ingest"))

    def generate(self, rep: int) -> None:
        self.ingest.generate(rep)
        self.dir = os.path.join(self.work, f"rep{rep}")
        self.sf_dir = os.path.join(self.dir, "sf")
        gen.write_tables(self.sf_dir, self.seed, 0.1, only=("documents", "embeddings"))
        self.pool = gen.query_pool(self.seed, POOL)
        self.schedule = gen.request_schedule(self.seed, POOL, SCHEDULE, KINDS, ZIPF_S)

    def build(self) -> None:
        from ydb_vector_search_demo_spark.operators import ann, knn

        d = self.dir
        emb = self.spark.read.parquet(os.path.join(self.sf_dir, "embeddings.parquet"))
        self.norm_path = os.path.join(d, "normalized")
        knn.write_normalized_store(emb, self.norm_path)
        index = ann.build_ivf_index(emb, k_clusters=CELLS)
        self.ivf_path = os.path.join(d, "ivf")
        ann.write_ivf_partitioned(index, self.ivf_path)
        index.assigned.unpersist()
        self.centroids = index.centroids
        self.ingest.build()

    def warmup(self) -> None:
        pool, self.pool = self.pool, gen.query_pool(self.seed, POOL, tag="warm-up-queries")
        try:
            for i in range(WARM_CYCLES * len(KINDS)):
                kind = KINDS[i % len(KINDS)]
                op = timed(Op(f"warm{i}", kind), self.tracer,
                           lambda k=kind, q=i % POOL: self._request(k, q))
                if op.error:
                    raise RuntimeError(f"warm-up {kind} request failed: {op.error}")
        finally:
            self.pool = pool
        self.ingest.warmup()

    def _embed(self, text: str):
        from ydb_vector_search_demo_spark.pipeline import rag

        return self.tracer.call("rag.embed_query_stub", rag.embed_query_stub, text)

    def _request(self, kind: str, q: int):
        from ydb_vector_search_demo_spark.operators import ann, knn
        from ydb_vector_search_demo_spark.pipeline import rag

        tr, query = self.tracer, self.pool[q]
        if kind == "rag":
            with tr.span("rag.search_with_summary.build"):
                df = rag.search_with_summary(self.spark, self.sf_dir, query,
                                             embed_fn=self._embed)
            with tr.span("rag.collect"):
                return [tuple(r) for r in df.collect()]
        qv = self._embed(query)
        if kind == "knn":
            with tr.span("knn.knn_cosine_normalized_parquet.build"):
                df = knn.knn_cosine_normalized_parquet(self.spark, self.norm_path, qv, k=K)
            with tr.span("knn.collect"):
                return [(r["vec_id"], r["score"]) for r in df.collect()]
        with tr.span("ann.ivf_search_parquet.build"):
            df = ann.ivf_search_parquet(self.spark, self.ivf_path, self.centroids, qv,
                                        k=K, nprobe=NPROBE)
        with tr.span("ann.ivf_search_parquet.collect"):
            return [(r["vec_id"], r["score"]) for r in df.collect()]

    def run(self, seconds: float) -> None:
        # closed loop, one client: the next request goes out when the last
        # one has returned; until the deadline, and at least one whole round
        # so that every op kind has a time (two when traced, so that the
        # store's growth between ingest batches shows)
        deadline = time.perf_counter() + seconds
        rounds = 2 if self.tracer.enabled else 1
        i = 0
        while time.perf_counter() < deadline or len(self.ingest.done) < rounds:
            if i and i % READS_PER_BATCH == 0 and len(self.ingest.done) < i // READS_PER_BATCH:
                self.ops.extend(self.ingest.batch(len(self.ingest.done)))
                continue
            kind, q = self.schedule[i]
            # a traced run traces every other cycle of read kinds
            traced = self.tracer.enabled and (i // len(KINDS)) % 2 == 1
            op = Op(f"r{i}", kind, traced=traced, info={"q": q})
            self.ops.append(timed(op, self.tracer, lambda: self._request(kind, q)))
            i += 1

    # ------------------------------------------------------------ checks

    def _load_truth(self) -> None:
        ids, vecs = gen.read_vectors(os.path.join(self.sf_dir, "embeddings.parquet"))
        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        self.text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
        store = pads.dataset(self.ivf_path, format="parquet", partitioning="hive").to_table(
            columns=["vec_id", "centroid_id"])
        cell_of = dict(zip(store.column("vec_id").to_pylist(),
                           store.column("centroid_id").to_pylist()))
        self.ids, self.vecs = ids, vecs
        self.cells = np.array([cell_of[int(i)] for i in ids])
        self.cents = np.array(self.centroids)

    def _expected(self, text: str):
        qv = check.embed_stub(text)
        dist = check.distances(self.vecs, qv, "cosine")
        mask = check.ivf_candidates(self.cells, self.cents, qv, NPROBE, "cosine")
        return qv, dist, mask

    def check(self) -> list[str]:
        self._load_truth()
        cache: dict[int, tuple] = {}
        errors = self.ingest.check()
        for op in self.ops:
            if op.error or op.kind not in ("rag", "knn", "ivf"):
                continue
            q = op.info["q"]
            if q not in cache:
                cache[q] = self._expected(self.pool[q])
            qv, dist, mask = cache[q]
            if op.kind == "rag":
                err = self._check_rag(op.out, self.pool[q], dist)
            elif op.kind == "knn":
                err = check.check_topk([i for i, _ in op.out], [s for _, s in op.out],
                                       self.ids, dist, K)
            else:
                err = check.check_topk([i for i, _ in op.out], [s for _, s in op.out],
                                       self.ids[mask], dist[mask], K)
            if err:
                errors.append(f"{op.id} {op.kind} {self.pool[q]!r}: {err}")
        # recall@5 of the built IVF index (nprobe as served) over a larger
        # seeded query set than the served pool: fixed for a seed
        rec = []
        for text in gen.query_pool(self.seed, RECALL_QUERIES, tag="recall-queries"):
            _, dist, mask = self._expected(text)
            rec.append(check.recall(check.topk(self.ids[mask], dist[mask], K),
                                    check.topk(self.ids, dist, K)))
        self.recall = float(np.mean(rec))
        scored = [int(cache[op.info["q"]][2].sum()) for op in self.ops
                  if op.kind == "ivf" and not op.error] + self.ingest.scored
        self.rows_scored = float(np.mean(scored)) / K if scored else 0.0
        return errors

    def _check_rag(self, rows, query: str, dist) -> str:
        if len(rows) != 1:
            return f"{len(rows)} rows, want 1"
        prompt, summary, n_docs = rows[0]
        top = check.topk(self.ids, dist, K)
        want = check.prompt_for(query, [self.text[i] for i in top])
        if prompt != want:
            return "prompt differs from the template filled with the exact top-3"
        if summary != check.summary_for(want) or n_docs != check.CONTEXT_TOP_N:
            return f"summary {summary!r} / n_docs {n_docs}"
        return ""

    # ----------------------------------------------------------- metrics

    def _reads(self) -> list[Op]:
        return [op for op in self.ops if op.kind in ("rag", "knn", "ivf")]

    def end_to_end(self, report) -> None:
        ok = [op for op in self.ops if not op.error]
        report.add("op_p50_ms", median([op.seconds * 1000 for op in ok if op.kind == "rag"]), "ms")
        # one round of the loop is READS_PER_BATCH reads of the KINDS cycle
        # and one ingest batch (a write and PROBES probes); the round's
        # throughput with every op at its kind's median time does not jump
        # with whether the run ended just before or after a write
        mix = {k: READS_PER_BATCH * KINDS.count(k) // len(KINDS) for k in set(KINDS)}
        mix.update(write=1, probe=PROBES)
        round_s = sum(n * median([op.seconds for op in ok if op.kind == k])
                      for k, n in mix.items())
        report.add("items_per_s", sum(mix.values()) / round_s, "1/s")
        report.add("quality", self.recall, "ratio")
        report.note("op = one search_with_summary request; items = operations of one round of "
                    f"the loop ({READS_PER_BATCH} reads, a write, {PROBES} probes) at each kind's "
                    f"median time; quality = IVF recall@5 over {RECALL_QUERIES} seeded queries")
        qps = len(ok) / sum(op.seconds for op in self.ops)
        for kind in ("rag", "knn", "ivf"):
            ms = [op.seconds * 1000 for op in ok if op.kind == kind]
            tail = tail_percentile(ms)
            report.note(f"{kind}: n={len(ms)} p50={median(ms):.1f} ms"
                        + (f" p{tail[0]}={tail[1]:.1f} ms" if tail and tail[0] > 50 else ""))
        read_ms = [op.seconds * 1000 for op in self._reads() if not op.error]
        tail = tail_percentile(read_ms)
        report.note(f"req.p50_ms={median(read_ms):.1f} ms n={len(read_ms)}"
                    + (f" req.p{tail[0]}_ms={tail[1]:.1f}" if tail and tail[0] > 50 else "")
                    + f"; req.qps={qps:.3f} ops/s; repeat share="
                    f"{gen.repeat_share(self.schedule[:len(self._reads())]):.3f}")
        self.ingest.notes(report)

    def per_layer(self) -> dict[str, float]:
        return {**self.ingest.per_layer(),
                "rag.repeat_share": gen.repeat_share(self.schedule[:len(self._reads())]),
                "ann.rows_scored_per_result": self.rows_scored}
