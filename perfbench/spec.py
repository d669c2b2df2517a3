"""Facts about the generated inputs, recorded in ``spec.json``.

    python3 perfbench/spec.py          # rewrite spec.json's "generator" entry

``describe(seed)`` recomputes them from the generators and the workload
constants; a test keeps ``spec.json`` equal to it.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ingest  # noqa: E402
import rag_serve  # noqa: E402
import vector_batch  # noqa: E402

SPEC_FILE = os.path.join(HERE, "spec.json")
RECORD_SEED = 1


def describe(seed: int) -> dict:
    sched = gen.request_schedule(seed, rag_serve.POOL, 1000, rag_serve.KINDS, rag_serve.ZIPF_S)
    vb = vector_batch
    c = gen.batch_corpus(seed, vb.N, vb.CLUSTERS, vb.VEC_PAIRS, vb.TEXT_PAIRS, vb.QUERIES)
    base = gen.ingest_base(seed, ingest.N0, ingest.CLUSTERS)
    return {
        "seed": seed,
        "rag-serve": {
            "documents": 5000, "vectors": 2000, "dims": gen.DIM,
            "vector_bytes": 2000 * gen.DIM * 4,
            "query_pool": rag_serve.POOL, "zipf_s": rag_serve.ZIPF_S, "clients": 1,
            "kinds_cycle": list(rag_serve.KINDS),
            "repeat_share_first_24": round(gen.repeat_share(sched[:24]), 4),
            "repeat_share_first_100": round(gen.repeat_share(sched[:100]), 4),
        },
        "vector-batch": {
            "vectors": vb.N, "dims": gen.DIM, "vector_bytes": vb.N * gen.DIM * 4,
            "catalog_scale_factor": vb.CATALOG_SF,
            "catalog_rows": [r["name"] for r in vb.sweep_rows()],
            "text_bytes": sum(len(t.encode()) for t in c["texts"]),
            "clusters": vb.CLUSTERS, "ivf_cells": vb.CELLS, "batch_knn_queries": vb.QUERIES,
            "planted_vector_pairs": len(c["planted_vec"]),
            "planted_text_pairs": len(c["planted_text"]),
        },
        "rag-serve ingest": {
            "base_vectors": ingest.N0, "dims": gen.DIM,
            "base_vector_bytes": ingest.N0 * gen.DIM * 4,
            "base_text_bytes": sum(len(t.encode()) for t in base["texts"]),
            "ivf_cells": ingest.CELLS,
            "per_batch": {"inserts": ingest.INSERTS, "updates": ingest.UPDATES,
                          "probes": ingest.PROBES},
            "reads_per_batch": rag_serve.READS_PER_BATCH,
        },
    }


if __name__ == "__main__":
    with open(SPEC_FILE) as f:
        spec = json.load(f)
    spec["generator"] = describe(RECORD_SEED)
    with open(SPEC_FILE, "w") as f:
        json.dump(spec, f, indent=1, ensure_ascii=False)
        f.write("\n")
