"""The ingest part of rag-serve: a growing store, written and probed.

Base: a generated corpus, IVF-partitioned with ``ann.build_ivf_index`` +
``ann.write_ivf_partitioned``, and a document store published as version
0 through ``stores.publish_store``. rag-serve interleaves batches with
its read requests; a batch is:

* write -- ``ann.ivf_append`` of the batch's new vectors; the document
  store merged with the batch's inserts and text updates by
  ``rag.upsert_store`` and written as a new version directory;
  ``stores.publish_store`` of that version;
* PROBES probes -- euclidean ``ann.ivf_search_parquet`` (nprobe 3) joined to
  payloads read through ``stores.read_current_store``. The first probe
  queries a vector written in this batch (read-your-writes).

Every probe query is new and the store changes every batch, so no probe
result can be reused; cell files and retained versions grow from batch
to batch.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import check
import gen
from base import Op, Workload, timed
from harness import median, tail_percentile

N0 = 4000
CLUSTERS = 16
CELLS = 16
INSERTS = 200
UPDATES = 20
PROBES = 4
K = 5
NPROBE = 3
METRIC = "euclidean"


class Ingest(Workload):
    """Not a workload of its own: rag-serve calls these hooks."""

    def generate(self, rep: int) -> None:
        self.dir = os.path.join(self.work, f"rep{rep}")
        self.base = gen.ingest_base(self.seed, N0, CLUSTERS)
        gen.write_vectors(os.path.join(self.dir, "in", "base"), self.base["ids"],
                          self.base["vecs"])
        gen.write_docs(os.path.join(self.dir, "in", "base-docs"), self.base["ids"],
                       self.base["texts"])

    def build(self) -> None:
        from ydb_vector_search_demo_spark.operators import ann

        index = ann.build_ivf_index(self.spark.read.parquet(os.path.join(self.dir, "in", "base")),
                                    k_clusters=CELLS)
        ann.write_ivf_partitioned(index, os.path.join(self.dir, "ivf"))
        index.assigned.unpersist()
        self.centroids = index.centroids
        self._open_store("ivf", "docs")
        self.done: list[tuple[dict, list[Op]]] = []

    def _open_store(self, ivf: str, docs: str) -> None:
        """Point the workload at an IVF store dir and a document store root
        whose version 0 is the generated base documents."""
        from ydb_vector_search_demo_spark import stores

        self.ivf_path = os.path.join(self.dir, ivf)
        self.doc_root = os.path.join(self.dir, docs)
        v0 = os.path.join(self.doc_root, "v00000")
        shutil.copytree(os.path.join(self.dir, "in", "base-docs"), v0)
        stores.publish_store(self.spark, self.doc_root, v0)
        self.next_id, self.next_version = N0, 1

    def warmup(self) -> None:
        # one write + probes against a copy of the store; the timed run
        # starts from the untouched original
        shutil.copytree(os.path.join(self.dir, "ivf"), os.path.join(self.dir, "warm-ivf"))
        self._open_store("warm-ivf", "warm-docs")
        for op in self._batch(-1)[1]:
            if op.error:
                raise RuntimeError(f"warm-up {op.kind} failed: {op.error}")
        self.ivf_path = os.path.join(self.dir, "ivf")
        self.doc_root = os.path.join(self.dir, "docs")
        self.next_id, self.next_version = N0, 1

    def _inputs(self, b: int) -> dict:
        bt = gen.ingest_batch(self.seed, b, self.next_id, INSERTS, UPDATES, PROBES,
                              self.base["vecs"])
        d = os.path.join(self.dir, "in", f"b{b}")
        gen.write_vectors(os.path.join(d, "vectors"), bt["ids"], bt["vecs"])
        ids = np.concatenate([bt["ids"], bt["upd_ids"]])
        gen.write_docs(os.path.join(d, "docs"), ids, bt["texts"] + bt["upd_texts"])
        bt["dir"] = d
        self.next_id += INSERTS
        return bt

    def _write(self, bt: dict, version: str) -> None:
        from ydb_vector_search_demo_spark import stores
        from ydb_vector_search_demo_spark.operators import ann
        from ydb_vector_search_demo_spark.pipeline import rag

        tr, spark = self.tracer, self.spark
        with tr.span("ann.ivf_append"):
            ann.ivf_append(self.centroids, spark.read.parquet(os.path.join(bt["dir"], "vectors")),
                           self.ivf_path)
        with tr.span("stores.current_store_path"):
            current = stores.current_store_path(spark, self.doc_root)
        with tr.span("rag.upsert_store.write"):
            merged = rag.upsert_store(spark.read.parquet(current),
                                      spark.read.parquet(os.path.join(bt["dir"], "docs")))
            merged.write.parquet(version)
        with tr.span("stores.publish_store"):
            stores.publish_store(spark, self.doc_root, version)

    def _probe(self, qv) -> list[tuple]:
        from pyspark.sql import functions as F
        from ydb_vector_search_demo_spark import stores
        from ydb_vector_search_demo_spark.operators import ann

        tr, spark = self.tracer, self.spark
        with tr.span("ann.ivf_search_parquet.build"):
            top = ann.ivf_search_parquet(spark, self.ivf_path, self.centroids, qv.tolist(),
                                         k=K, nprobe=NPROBE, metric=METRIC)
        with tr.span("stores.read_current_store"):
            payload = stores.read_current_store(spark, self.doc_root)
        joined = top.join(payload, top["vec_id"] == payload["doc_id"]).select(
            top["vec_id"], top["score"], F.col("text"))
        with tr.span("ann.ivf_search_parquet.collect"):
            rows = joined.collect()
        return sorted((r["score"], r["vec_id"], r["text"]) for r in rows)

    def batch(self, b: int) -> list[Op]:
        """Run batch ``b`` (a write, then the probes); its ops, timed."""
        bt, ops = self._batch(b)
        self.done.append((bt, ops))
        return ops

    def _batch(self, b: int) -> tuple[dict, list[Op]]:
        bt = self._inputs(b)
        on = self.tracer.enabled
        version = os.path.join(self.doc_root, f"v{self.next_version:05d}")
        self.next_version += 1
        ops = [timed(Op(f"b{b}.w", "write", traced=on, info={"b": b}), self.tracer,
                     lambda: self._write(bt, version))]
        for j, qv in enumerate(bt["probes"]):
            op = timed(Op(f"b{b}.p{j}", "probe", traced=on and j % 2 == 1,
                          info={"b": b, "j": j}),
                       self.tracer, lambda q=qv: self._probe(q))
            if on:
                op.info["files"] = self._files_in_cells(qv)
            ops.append(op)
        return bt, ops

    def _files_in_cells(self, qv) -> int:
        cells = check.rank_cells(np.array(self.centroids), qv, METRIC)[:NPROBE]
        return sum(len([f for f in os.listdir(os.path.join(self.ivf_path, f"centroid_id={c}"))
                        if f.endswith(".parquet")])
                   for c in cells if os.path.isdir(os.path.join(self.ivf_path, f"centroid_id={c}")))

    # ------------------------------------------------------------ checks

    def check(self) -> list[str]:
        self.batches = [bt for bt, _ in self.done]
        self.ops = [op for _, ops in self.done for op in ops]
        vec = {int(i): v for i, v in zip(self.base["ids"], self.base["vecs"])}
        text = {int(i): t for i, t in zip(self.base["ids"], self.base["texts"])}
        store = pads.dataset(self.ivf_path, format="parquet", partitioning="hive").to_table(
            columns=["vec_id", "centroid_id"])
        cell = dict(zip(store.column("vec_id").to_pylist(), store.column("centroid_id").to_pylist()))
        cents = np.array(self.centroids)
        errors, recalls, scored = [], [], []
        by_batch: dict[int, list[Op]] = {}
        for op in self.ops:
            by_batch.setdefault(op.info["b"], []).append(op)
        for b, bt in enumerate(self.batches):
            for i, v, t in zip(bt["ids"], bt["vecs"], bt["texts"]):
                vec[int(i)], text[int(i)] = v, t
            for i, t in zip(bt["upd_ids"], bt["upd_texts"]):
                text[int(i)] = t
            ids = np.array(sorted(vec))
            mat = np.stack([vec[i] for i in ids])
            cells = np.array([cell.get(int(i), -1) for i in ids])
            for op in by_batch.get(b, []):
                if op.kind != "probe" or op.error:
                    continue
                qv = bt["probes"][op.info["j"]]
                dist = check.distances(mat, qv, METRIC)
                mask = check.ivf_candidates(cells, cents, qv, NPROBE, METRIC)
                scored.append(int(mask.sum()))
                got = [(s, i) for s, i, _ in op.out]
                err = check.check_topk([i for _, i in got], [s for s, _ in got],
                                       ids[mask], dist[mask], K)
                if not err and op.info["j"] == 0:
                    want = int(bt["ids"][np.argmin(np.abs(bt["vecs"] - qv).sum(axis=1))])
                    if got[0][1] != want or got[0][0] > 1e-9:
                        err = f"read-your-writes: rank 1 is {got[0]}, want id {want} at 0"
                if not err and any(t != text[int(i)] for _, i, t in op.out):
                    err = "payload text is not the latest published version"
                if err:
                    errors.append(f"{op.id}: {err}")
                recalls.append(check.recall([i for _, i in got], check.topk(ids, dist, K)))
        live = N0 + INSERTS * len(self.batches)
        if len(cell) != live or store.num_rows != live:
            errors.append(f"IVF store holds {store.num_rows} rows, want {live}")
        from ydb_vector_search_demo_spark import stores

        current = stores.current_store_path(self.spark, self.doc_root)
        docs = pq.read_table(current)
        if docs.num_rows != live or sorted(docs.column("doc_id").to_pylist()) != list(range(live)):
            errors.append(f"document store holds {docs.num_rows} rows, want {live}")
        self.recall = float(np.mean(recalls)) if recalls else 0.0
        self.scored = scored
        self.live_bytes = live * gen.DIM * 4 + sum(len(t.encode()) for t in text.values())
        return errors

    # ----------------------------------------------------------- metrics

    def _disk_bytes(self) -> int:
        total = 0
        for root in (self.ivf_path, self.doc_root):
            for d, _, files in os.walk(root):
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    def notes(self, report) -> None:
        probes = [op.seconds * 1000 for op in self.ops if op.kind == "probe" and not op.error]
        writes = [op.seconds for op in self.ops if op.kind == "write" and not op.error]
        if not probes or not writes:
            report.note("ingest: no completed batch")
            return
        tail = tail_percentile(probes)
        report.note(f"ingest: batches={len(self.batches)} probe p50={median(probes):.1f} ms "
                    f"n={len(probes)}" + (f" p{tail[0]}={tail[1]:.1f} ms" if tail and tail[0] > 50
                                          else "")
                    + f" recall@5={self.recall:.4f}")
        report.note(f"ingest: write.p50_ms={median(writes) * 1000:.1f} write.rows_per_s="
                    f"{(INSERTS + UPDATES) / median(writes):.1f} store.bytes_per_user_byte="
                    f"{self._disk_bytes() / self.live_bytes:.3f}")

    def per_layer(self) -> dict[str, float]:
        files = [(op.info["b"], op.info["files"]) for op in self.ops if "files" in op.info]
        first = [f for b, f in files if b == 0]
        last = [f for b, f in files if b == len(self.batches) - 1]
        from ydb_vector_search_demo_spark import stores

        n_files = sum(len([f for f in fs if f.endswith(".parquet")])
                      for _, _, fs in os.walk(self.ivf_path))
        return {
            "ann.files_per_probe": float(np.mean([f for _, f in files])) if files else 0.0,
            "ann.files_per_probe.first_batch": float(np.mean(first)) if first else 0.0,
            "ann.files_per_probe.last_batch": float(np.mean(last)) if last else 0.0,
            "ann.store_files": n_files,
            "stores.versions_retained": len(stores.store_history(self.spark, self.doc_root)),
        }
