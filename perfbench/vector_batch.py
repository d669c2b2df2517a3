"""vector-batch: batch indexing and curation, then a catalog sweep.

The corpus is generated per seed: clustered 64-dim vectors plus
vocabulary texts, with planted near-duplicate vector pairs and text
pairs. One pass (one op) runs these steps, each timed on its own:

  knn.write_normalized_store -> ann.build_ivf_index -> ann.write_ivf_partitioned
  -> knn.batch_knn (Q queries) -> dedup.bucketed_cosine_near_dup_pairs
  -> dedup.minhash_dedup_pairs -> retrieval.build_bm25_index
  -> the catalog rows of grade_rows.json marked "sweep"

The catalog rows are called through ``__spark_entry__.queries()`` on
generated catalog tables, materialized with ``toPandas()``, and compared
with ``__spark_entry__.oracle_sql()`` run in DuckDB outside the timed
region. They are the only route to the modules
behind them (curation, stats, timeseries, streaming, relational rows).

Warm-up is one whole untimed pass over the same inputs: the JVM keeps
compiling for the first pass or two, and a first pass runs a quarter slower
than the next (more on a slow host), so timing it would measure the
compiler. Timed passes repeat until the run's seconds are used (at least
one, two when traced).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import check
import gen
from base import Op, Workload, timed
from harness import cores, geomean, median

N = 5_000
CLUSTERS = 32
VEC_PAIRS = 200
TEXT_PAIRS = 200
QUERIES = 16
CELLS = 32
K = 5
COS_THRESHOLD = 0.9
JACCARD_THRESHOLD = 0.5
VECTOR_STEPS = (
    "knn.write_normalized_store",
    "ann.build_ivf_index",
    "ann.write_ivf_partitioned",
    "knn.batch_knn",
    "dedup.bucketed_cosine_near_dup_pairs",
    "dedup.minhash_dedup_pairs",
    "retrieval.build_bm25_index",
)
CATALOG_SF = 0.01
ROWS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "grade_rows.json")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def sweep_rows() -> list[dict]:
    with open(ROWS_FILE) as f:
        return [r for r in json.load(f) if r["sweep"]]


class VectorBatch(Workload):
    name = "vector-batch"

    def generate(self, rep: int) -> None:
        d = os.path.join(self.work, f"rep{rep}")
        c = gen.batch_corpus(self.seed, N, CLUSTERS, VEC_PAIRS, TEXT_PAIRS, QUERIES)
        self.inputs = self._write_inputs(d, c)
        self.sf_dir = os.path.join(d, "sf")
        gen.write_tables(self.sf_dir, self.seed, CATALOG_SF)
        self.corpus = c
        self.rows = sweep_rows()
        self.steps = [*VECTOR_STEPS, *(f"catalog.{r['name']}" for r in self.rows)]

    def _write_inputs(self, d: str, c: dict) -> dict:
        paths = {k: os.path.join(d, k) for k in ("vectors", "docs", "queries")}
        gen.write_vectors(paths["vectors"], c["ids"], c["vecs"], cores())
        gen.write_docs(paths["docs"], c["ids"], c["texts"], cores())
        os.makedirs(paths["queries"])
        pq.write_table(pa.table({
            "query_id": pa.array(np.arange(len(c["queries"]), dtype=np.int64)),
            "query_vec": gen.vector_array(c["queries"]),
        }), os.path.join(paths["queries"], "part-000.parquet"))
        return paths

    def _frames(self, paths: dict):
        return tuple(self.spark.read.parquet(paths[k]) for k in ("vectors", "docs", "queries"))

    def warmup(self) -> None:
        frames = self._frames(self.inputs)
        out_dir = os.path.join(self.work, "warm")
        self.warm_ops = []
        for step in self.steps:
            op = timed(Op(f"warm.{step}", step), self.tracer,
                       lambda s=step: self._step(s, frames, out_dir))
            if op.error:
                raise RuntimeError(f"warm-up {step} failed: {op.error}")
            self.warm_ops.append(op)
        shutil.rmtree(out_dir, ignore_errors=True)

    def _step(self, step: str, frames, out_dir: str):
        with self.tracer.span(step):
            return self._call(step, frames, out_dir)

    def _call(self, step: str, frames, out_dir: str):
        from ydb_vector_search_demo_spark.operators import ann, dedup, knn, retrieval

        emb, docs, queries = frames
        tr = self.tracer
        if step.startswith("catalog."):
            import __spark_entry__ as entry

            try:
                return entry.queries()[step[len("catalog."):]](self.spark, self.sf_dir).toPandas()
            finally:
                dedup.release_persisted()
        if step == "knn.write_normalized_store":
            knn.write_normalized_store(emb, os.path.join(out_dir, "normalized"))
            return None
        if step == "ann.build_ivf_index":
            self._index = ann.build_ivf_index(emb, k_clusters=CELLS)
            return self._index.centroids
        if step == "ann.write_ivf_partitioned":
            ann.write_ivf_partitioned(self._index, os.path.join(out_dir, "ivf"))
            self._index.assigned.unpersist()
            return None
        if step == "knn.batch_knn":
            with tr.span("knn.batch_knn.build"):
                df = knn.batch_knn(queries, emb, k=K)
            with tr.span("knn.batch_knn.collect"):
                return [(r["query_id"], r["rank"], r["vec_id"], r["score"]) for r in df.collect()]
        if step == "dedup.bucketed_cosine_near_dup_pairs":
            with tr.span("dedup.bucketed_cosine_near_dup_pairs.build"):
                df = dedup.bucketed_cosine_near_dup_pairs(emb, threshold=COS_THRESHOLD,
                                                          dim=gen.DIM)
            with tr.span("dedup.bucketed_cosine_near_dup_pairs.collect"):
                return [(r["a"], r["b"], r["cos_sim"]) for r in df.collect()]
        if step == "dedup.minhash_dedup_pairs":
            try:
                with tr.span("dedup.minhash_dedup_pairs.build"):
                    df = dedup.minhash_dedup_pairs(docs, threshold=JACCARD_THRESHOLD)
                with tr.span("dedup.minhash_dedup_pairs.collect"):
                    return [(r["a"], r["b"], r["jaccard"]) for r in df.collect()]
            finally:
                dedup.release_persisted()
        index = retrieval.build_bm25_index(docs)
        try:
            return index.postings.count()
        finally:
            index.postings.unpersist()

    def run(self, seconds: float) -> None:
        frames = self._frames(self.inputs)
        start = time.perf_counter()
        self.passes: list[list[Op]] = []
        p = 0
        # a traced run needs two passes: each step runs traced in one of them
        min_passes = 2 if self.tracer.enabled else 1
        while True:
            out_dir = os.path.join(self.work, f"pass{p}")
            ops = [timed(Op(f"p{p}.{step}", step,
                            traced=self.tracer.enabled and (s + p) % 2 == 1),
                         self.tracer, lambda st=step: self._step(st, frames, out_dir))
                   for s, step in enumerate(self.steps)]
            self.passes.append(ops)
            self.ops.extend(ops)
            self.last_out = out_dir
            p += 1
            elapsed = time.perf_counter() - start
            if p >= min_passes and elapsed + elapsed / p > seconds:
                break
            shutil.rmtree(out_dir, ignore_errors=True)

    # ------------------------------------------------------------ checks

    def check(self) -> list[str]:
        c = self.corpus
        vecs = c["vecs"]
        unit = vecs.astype(np.float64) / np.linalg.norm(vecs.astype(np.float64), axis=1,
                                                         keepdims=True)
        oracle = self._oracle_digests()
        errors = []
        self.found_vec = self.found_text = 0
        for op in self.ops:
            if not op.error:
                err = self._check_step(op, unit, oracle)
                if err:
                    errors.append(f"{op.id}: {err}")
        # stores of the last pass, read back outside Spark
        norm = pq.read_table(os.path.join(self.last_out, "normalized"))
        got = norm.column("unit").combine_chunks().flatten().to_numpy().reshape(-1, gen.DIM)
        order = np.argsort(norm.column("vec_id").to_numpy())
        if len(got) != N or not np.allclose(got[order], unit, atol=1e-9):
            errors.append("normalized store: rows or unit vectors differ")
        ivf = pads.dataset(os.path.join(self.last_out, "ivf"), format="parquet",
                           partitioning="hive").to_table(columns=["vec_id", "centroid_id"])
        cents = np.array(self.passes[-1][1].out)
        d2 = ((vecs.astype(np.float64)[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cell = dict(zip(ivf.column("vec_id").to_pylist(), ivf.column("centroid_id").to_pylist()))
        if len(cell) != N or any(d2[i, cell[int(i)]] > d2[i].min() + 1e-9 for i in c["ids"]):
            errors.append("IVF store: rows missing or not in their nearest cell")
        return errors

    def _oracle_digests(self) -> dict:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t + '.parquet')}'")
            return {f"catalog.{r['name']}": check.frame_digest(con.sql(oracles[r["name"]]).df())
                    for r in self.rows}
        finally:
            con.close()

    def _check_step(self, op: Op, unit, oracle: dict) -> str:
        c = self.corpus
        if op.kind in oracle:
            got = check.frame_digest(op.out)
            return "" if got == oracle[op.kind] else (
                f"{got[1]} rows, digest differs from the DuckDB oracle ({oracle[op.kind][1]} rows)")
        if op.kind == "knn.batch_knn":
            by_q: dict[int, list] = {}
            for qid, rank, vid, score in op.out:
                by_q.setdefault(int(qid), []).append((rank, vid, score))
            if sorted(by_q) != list(range(QUERIES)):
                return f"answers for {len(by_q)} of {QUERIES} queries"
            for qid, rows in by_q.items():
                rows.sort()
                err = check.check_topk([v for _, v, _ in rows], [s for _, _, s in rows], c["ids"],
                                       check.distances(c["vecs"], c["queries"][qid], "cosine"), K)
                if err:
                    return f"query {qid}: {err}"
            return ""
        if op.kind == "dedup.bucketed_cosine_near_dup_pairs":
            self.found_vec = len({(a, b) for a, b, _ in op.out} & c["planted_vec"])
            return check.check_pairs(op.out, lambda a, b: float(unit[a] @ unit[b]), COS_THRESHOLD)
        if op.kind == "dedup.minhash_dedup_pairs":
            self.found_text = len({(a, b) for a, b, _ in op.out} & c["planted_text"])
            texts = c["texts"]
            return check.check_pairs(op.out, lambda a, b: check.jaccard(texts[a], texts[b]),
                                     JACCARD_THRESHOLD)
        if op.kind == "retrieval.build_bm25_index":
            want = sum(len(set(t.lower().split())) for t in c["texts"])
            return "" if op.out == want else f"{op.out} postings, want {want}"
        return ""

    # ----------------------------------------------------------- metrics

    def end_to_end(self, report) -> None:
        pass_s = median([sum(op.seconds for op in ops) for ops in self.passes])
        vec_s = median([sum(op.seconds for op in ops if not op.kind.startswith("catalog."))
                        for ops in self.passes])
        rows_ms = [op.seconds * 1000 for op in self.passes[0] if op.kind.startswith("catalog.")]
        planted = VEC_PAIRS + TEXT_PAIRS
        recall = (self.found_vec + self.found_text) / planted
        report.add("op_p50_ms", pass_s * 1000, "ms")
        report.add("items_per_s", N / vec_s, "1/s")
        report.add("quality", recall, "ratio")
        report.note(f"op = one pass (vector pipeline over {N} docs + {len(rows_ms)} catalog rows);"
                    f" items = docs per second of the vector pipeline; quality = planted "
                    f"near-duplicate recall")
        report.note(f"passes={len(self.passes)} batch.docs_per_s={N / vec_s:.1f} docs/s "
                    f"dedup.planted_recall={recall:.4f} (vectors {self.found_vec}/{VEC_PAIRS}, "
                    f"texts {self.found_text}/{TEXT_PAIRS}) catalog.total_s="
                    f"{sum(rows_ms) / 1000:.3f} catalog.geomean_ms={geomean(rows_ms):.1f}")
        warm = {op.kind: op.seconds for op in self.warm_ops}
        for step in self.steps:
            ms = [op.seconds * 1000 for op in self.ops if op.kind == step]
            report.note(f"{step}: p50={median(ms):.1f} ms n={len(ms)}"
                        + (f" (warm-up {warm[step] * 1000:.0f} ms)" if step in warm else ""))

    def per_layer(self) -> dict[str, float]:
        from ydb_vector_search_demo_spark.operators import dedup

        traced = [op for op in self.ops if op.traced and not op.error]
        knn_s = [op.seconds for op in traced if op.kind == "knn.batch_knn"]
        out: dict[str, float] = {}
        if knn_s:
            out["knn.pairs_scored_per_s"] = QUERIES * N / median(knn_s)
        module = {f"catalog.{r['name']}": r["module"] for r in self.rows}
        for op in traced:
            if op.kind in module:
                key = f"catalog.{module[op.kind]}.s"
                out[key] = out.get(key, 0.0) + op.seconds
        # MinHash LSH candidates (minhash_dedup_pairs' default banding)
        # against the pairs that survive verification
        sigs = dedup.minhash_signatures(self.spark.read.parquet(self.inputs["docs"]))
        candidates = dedup.lsh_candidate_pairs(sigs, bands=16, rows_per_band=4).count()
        verified = [op for op in self.passes[-1] if op.kind == "dedup.minhash_dedup_pairs"]
        if candidates and verified and not verified[0].error:
            out["dedup.verified_per_candidate"] = len(verified[0].out) / candidates
        return out
