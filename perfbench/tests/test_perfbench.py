"""The benchmark's own tests: no Spark, a few seconds.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)


# ---------------------------------------------------------- percentile rule


@pytest.mark.parametrize("n,p", [(19, None), (20, 50), (40, 75), (100, 90), (200, 95),
                                 (1000, 99), (59, 83)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, p):
    xs = list(range(1, n + 1))  # value == rank
    got = harness.tail_percentile(xs)
    if p is None:
        assert got is None
        return
    assert got[0] == p
    assert sum(x > got[1] for x in xs) >= 10
    # one percentile higher would leave fewer than ten samples beyond
    if p < 99:
        nxt = xs[-(-(p + 1) * n // 100) - 1]
        assert sum(x > nxt for x in xs) < 10


def test_tail_ignores_sample_order():
    xs = list(np.random.default_rng(0).permutation(100).astype(float))
    assert harness.tail_percentile(xs) == (90, 89.0)


# ------------------------------------------------------ generator determinism


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_tables(a, 7, 0.001)
    gen.write_tables(b, 7, 0.001)
    gen.write_tables(c, 8, 0.001)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_corpus_batches_and_schedule_repeat_for_a_seed(tmp_path):
    c1 = gen.batch_corpus(3, 500, 8, 5, 5, 4)
    c2 = gen.batch_corpus(3, 500, 8, 5, 5, 4)
    assert np.array_equal(c1["vecs"], c2["vecs"]) and c1["texts"] == c2["texts"]
    assert c1["planted_vec"] == c2["planted_vec"] and len(c1["planted_vec"]) == 5
    gen.write_vectors(str(tmp_path / "v1"), c1["ids"], c1["vecs"], 2)
    gen.write_vectors(str(tmp_path / "v2"), c2["ids"], c2["vecs"], 2)
    assert _digest(str(tmp_path / "v1")) == _digest(str(tmp_path / "v2"))
    b1 = gen.ingest_batch(3, 2, 100, 10, 3, 4, c1["vecs"])
    b2 = gen.ingest_batch(3, 2, 100, 10, 3, 4, c1["vecs"])
    assert all(np.array_equal(b1[k], b2[k]) for k in ("ids", "vecs", "upd_ids", "probes"))
    # probe 0 is an exact copy of a vector inserted in the batch
    assert any(np.array_equal(b1["probes"][0], v) for v in b1["vecs"])
    assert gen.request_schedule(3, 24, 200, ("a", "b"), 1.3) == gen.request_schedule(
        3, 24, 200, ("a", "b"), 1.3)
    assert gen.query_pool(3, 48) != gen.query_pool(4, 48)


def test_schedule_repeats_head_queries_in_zipf_proportion_for_every_seed():
    kinds = ("rag", "knn", "rag", "ivf")
    shares = {round(gen.repeat_share(gen.request_schedule(s, 24, 40, kinds, 1.3)), 6)
              for s in range(5)}
    assert len(shares) == 1 and 0.2 < shares.pop() < 0.8
    sched = gen.request_schedule(0, 24, 2000, kinds, 1.3)
    counts = np.bincount([q for _, q in sched], minlength=24)
    ranked = np.sort(counts)[::-1] / len(sched)
    p = 1.0 / np.arange(1, 25) ** 1.3
    assert np.allclose(ranked, p / p.sum(), atol=1e-3)
    assert [k for k, _ in sched[:8]] == list(kinds) * 2


def test_planted_pairs_are_near_duplicates():
    c = gen.batch_corpus(5, 2000, 16, 20, 20, 4)
    u = c["vecs"].astype(np.float64)
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    assert min(float(u[a] @ u[b]) for a, b in c["planted_vec"]) > 0.95
    assert min(check.jaccard(c["texts"][a], c["texts"][b]) for a, b in c["planted_text"]) > 0.5


def test_recorded_generator_facts_match_the_generator():
    import spec

    with open(spec.SPEC_FILE) as f:
        recorded = json.load(f)["generator"]
    assert recorded == spec.describe(recorded["seed"])


# -------------------------------------------------- checker rejects bad output


def _exact(seed=0, n=300, q=None):
    r = np.random.default_rng(seed)
    vecs = gen.unit_rows(r.standard_normal((n, gen.DIM))).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    qv = q if q is not None else r.standard_normal(gen.DIM)
    return ids, vecs, check.distances(vecs, qv, "cosine")


def test_topk_accepts_exact_and_rejects_corrupted():
    ids, _, dist = _exact()
    top = check.topk(ids, dist, 5)
    scores = [dist[i] for i in top]
    assert check.check_topk(top, scores, ids, dist, 5) == ""
    # 6-dp rounded scores are still correct
    assert check.check_topk(top, [round(s, 6) for s in scores], ids, dist, 5) == ""
    worse = [i for i in np.argsort(dist) if i not in top][0]
    assert check.check_topk(top[:4] + [int(worse)], scores[:4] + [dist[worse]],
                            ids, dist, 5) != ""
    assert check.check_topk(top, scores[:4] + [scores[4] + 1e-3], ids, dist, 5) != ""
    assert check.check_topk(top[:4], scores[:4], ids, dist, 5) != ""
    assert check.check_topk(top[::-1], scores[::-1], ids, dist, 5) != ""


def test_topk_ties_break_by_id():
    ids = np.arange(6, dtype=np.int64)
    dist = np.array([0.5, 0.1, 0.1, 0.3, 0.1, 0.9])
    assert check.topk(ids, dist, 3) == [1, 2, 4]
    assert check.check_topk([1, 2, 4], [0.1] * 3, ids, dist, 3) == ""
    assert check.check_topk([1, 2, 3], [0.1, 0.1, 0.3], ids, dist, 3) != ""


def test_prompt_and_summary_checks():
    prompt = check.prompt_for("spark join", ["a", "b", "c", "d"])
    assert prompt == check.PROMPT_TEMPLATE % ("spark join", "a\n\nb\n\nc")
    assert prompt.startswith('На основе следующих документов ответь на вопрос: "spark join"')
    assert check.summary_for(prompt) != check.summary_for(prompt + " ")


def test_embed_stub_is_unit_and_deterministic():
    v = check.embed_stub("spark vector join")
    assert abs(np.linalg.norm(v) - 1.0) < 1e-12
    assert v == check.embed_stub("spark vector join")
    assert check.embed_stub("") == [0.0] * gen.DIM


def test_pair_check_rejects_below_threshold_and_wrong_values():
    texts = ["a b c d e f", "a b c d e g", "x y z w v u"]
    good = [(0, 1, round(check.jaccard(texts[0], texts[1]), 6))]
    assert check.check_pairs(good, lambda a, b: check.jaccard(texts[a], texts[b]), 0.5) == ""
    bad_value = [(0, 1, 0.99)]
    assert check.check_pairs(bad_value, lambda a, b: check.jaccard(texts[a], texts[b]), 0.5)
    below = [(0, 2, 0.0)]
    assert check.check_pairs(below, lambda a, b: check.jaccard(texts[a], texts[b]), 0.5)
    assert check.check_pairs(good + good, lambda a, b: check.jaccard(texts[a], texts[b]), 0.5)


def test_frame_digest_is_order_insensitive_and_value_sensitive():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 0.25, 0.125]})
    b = a.iloc[::-1][["v", "k"]].reset_index(drop=True)
    assert check.frame_digest(a) == check.frame_digest(b)
    c = a.copy()
    c.loc[1, "v"] = 0.250001
    assert check.frame_digest(a) != check.frame_digest(c)
    assert check.frame_digest(a) != check.frame_digest(a.astype({"k": "float64"}))


# ------------------------------------------------- metric names and printout


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (n, u) for n, u, _ in metrics.PER_LAYER]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_report_prints_every_metric_with_unit_then_json_last():
    r = harness.Report()
    for name, unit in metrics.END_TO_END:
        r.add(name, 1.5, unit)
    r.note("context")
    lines = r.lines(True, 10, 0)
    assert lines[0] == "# context"
    for (name, unit), line in zip(metrics.END_TO_END, lines[1:]):
        assert line == f"{name} 1.5 {unit}"
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    assert list(last["metrics"]) == [n for n, _ in metrics.END_TO_END]
