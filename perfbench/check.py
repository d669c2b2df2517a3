"""Output checks, all numpy / stdlib, run outside the timed regions.

Every check returns an error string (empty when the output is correct);
the caller counts each non-empty result as one failed operation.
"""

from __future__ import annotations

import hashlib
import math
import random

import numpy as np

# The reference service's prompt (app.py:86-91), Russian text verbatim.
PROMPT_TEMPLATE = (
    'На основе следующих документов ответь на вопрос: "%s"\n'
    "\n"
    "Документы:\n"
    "%s\n"
    "\n"
    "Дай краткий и информативный ответ на русском языке, основываясь только "
    "на предоставленной информации. Если информации недостаточно для ответа, "
    "укажи это."
)
CONTEXT_TOP_N = 3

SCORE_TOL = 1.5e-6  # two values that agree at 6 dp differ by at most this


def embed_stub(text: str, dim: int = 64, seed: int = 42) -> list[float]:
    """The query embedding the service's deterministic embedding stand-in
    defines: per-token md5-seeded uniform draws, summed, L2-normalized."""
    v = [0.0] * dim
    for tok in text.split():
        rng = random.Random(int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8],
                                           "big") ^ seed)
        for i in range(dim):
            v[i] += rng.uniform(-1.0, 1.0)
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n else v


def distances(vecs: np.ndarray, q, metric: str) -> np.ndarray:
    """Float64 distance of every row of ``vecs`` to ``q`` (lower = closer)."""
    v = vecs.astype(np.float64)
    qd = np.asarray(q, dtype=np.float64)
    if metric == "euclidean":
        return np.sqrt(((v - qd) ** 2).sum(axis=1))
    norms = np.linalg.norm(v, axis=1) * np.linalg.norm(qd)
    return 1.0 - (v @ qd) / np.where(norms == 0, np.nan, norms)


def topk(ids: np.ndarray, dist: np.ndarray, k: int) -> list[int]:
    """Ids of the ``k`` smallest distances, ties broken by id ascending."""
    order = np.lexsort((ids, dist))
    return [int(i) for i in ids[order[:k]]]


def check_topk(got_ids, got_scores, ids: np.ndarray, dist: np.ndarray, k: int) -> str:
    """A top-k answer against the exact distances of the candidate set.

    Ids must equal the exact top-k (ties by id ascending) and each score
    must agree with the exact distance at 6 dp. Where exact distances
    are equal at 6 dp the engine's last-ulp order may differ from
    numpy's, so only there the ids are compared as a set."""
    want = topk(ids, dist, k)
    if len(got_ids) != min(k, len(ids)):
        return f"{len(got_ids)} rows, want {min(k, len(ids))}"
    pos = {int(i): n for n, i in enumerate(ids)}
    for i, s in zip(got_ids, got_scores):
        if int(i) not in pos:
            return f"id {i} not in the candidate set"
        if abs(float(s) - dist[pos[int(i)]]) > SCORE_TOL:
            return f"id {i} score {s} vs exact {dist[pos[int(i)]]:.9f}"
    if [int(i) for i in got_ids] == want:
        return ""
    # ids may differ only where the exact scores at that rank tie at 6 dp
    got_exact = [dist[pos[int(i)]] for i in got_ids]
    want_exact = [dist[pos[i]] for i in want]
    if any(abs(a - b) > SCORE_TOL for a, b in zip(got_exact, want_exact)):
        return f"ids {list(map(int, got_ids))} vs exact {want}"
    return ""


def recall(got_ids, want_ids) -> float:
    return len(set(map(int, got_ids)) & set(want_ids)) / max(1, len(want_ids))


def rank_cells(centroids: np.ndarray, q, metric: str) -> list[int]:
    return [int(c) for c in np.argsort(distances(centroids, q, metric), kind="stable")]


def ivf_candidates(cells: np.ndarray, centroids: np.ndarray, q, nprobe: int,
                   metric: str) -> np.ndarray:
    """Boolean mask of the rows an nprobe-cell probe scores."""
    return np.isin(cells, rank_cells(centroids, q, metric)[:nprobe])


def prompt_for(query: str, contents: list[str]) -> str:
    return PROMPT_TEMPLATE % (query, "\n\n".join(contents[:CONTEXT_TOP_N]))


def summary_for(prompt: str) -> str:
    """What the program's deterministic LLM stand-in answers for ``prompt``."""
    return f"[stub-summary {hashlib.md5(prompt.encode('utf-8')).hexdigest()[:12]}]"


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def check_pairs(pairs, value_of, threshold: float) -> str:
    """Each reported (a, b, value): a < b, recomputed value agrees at 6 dp
    and reaches ``threshold``; no pair reported twice."""
    seen = set()
    for a, b, v in pairs:
        if not a < b or (a, b) in seen:
            return f"pair ({a}, {b}) repeated or unordered"
        seen.add((a, b))
        exact = value_of(a, b)
        if exact < threshold - SCORE_TOL or abs(exact - float(v)) > SCORE_TOL:
            return f"pair ({a}, {b}) reported {v}, recomputed {exact:.9f}"
    return ""


# ------------------------------------------------------------- oracle hash


def _norm_val(v):
    if v is None:
        return None
    try:
        if v != v:  # NaN, NaT
            return "NaN"
    except (TypeError, ValueError):
        pass
    if isinstance(v, np.ndarray):
        return tuple(_norm_val(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_val(x)) for k, x in v.items()))
    if isinstance(v, float) and math.isinf(v):
        return str(v)
    return v


def frame_digest(pdf) -> tuple[str, int]:
    """Order-insensitive digest of a result frame: sorted column names,
    pandas dtype kinds, and the rows sorted by their string form."""
    pdf = pdf[sorted(pdf.columns)]
    kinds = [pdf[c].dtype.kind for c in pdf.columns]
    rows = [tuple(_norm_val(v) for v in r) for r in pdf.itertuples(index=False)]
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    h = hashlib.sha256(repr((list(pdf.columns), kinds, rows)).encode("utf-8"))
    return h.hexdigest(), len(rows)
