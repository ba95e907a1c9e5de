"""Output checks and recall, computed in numpy outside every timed region.

Each ``check_*`` function returns a list of failure messages; an empty
list means the output passed. The workloads count an operation whose
check fails as a failed operation, exactly like one that raised.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: Tolerance for a reported cosine against the one recomputed here.
COSINE_TOL = 1e-6
#: The pipeline reports similarity rounded to 4 digits (F-4 schema).
REPORTED_DIGITS = 4


def exact_pairs(ids: np.ndarray, emb: np.ndarray, threshold: float,
                block: int = 1024) -> set[tuple]:
    """All (id1, id2) with id1 < id2 and cosine >= ``threshold``: a
    blocked exact self-join of the unit-norm embedding matrix."""
    out: set[tuple] = set()
    for lo in range(0, len(ids), block):
        sims = emb[lo:lo + block] @ emb.T
        rows, cols = np.nonzero(sims >= threshold)
        for r, c in zip(rows, cols):
            a, b = ids[lo + r], ids[c]
            if a < b:
                out.add((a, b))
    return out


def check_pairs(pairs: pd.DataFrame, processed_ids: set, emb_by_id: dict,
                threshold: float) -> list[str]:
    """jobs_dedup output: canonical, unique, above threshold, cosines
    that match the embeddings stage (to 1e-6 beyond the 4-digit
    rounding of the output), ids known to the processed stage."""
    fails = []
    if (pairs["id1"] >= pairs["id2"]).any():
        fails.append("pair with id1 >= id2")
    if pairs.duplicated(["id1", "id2"]).any():
        fails.append("duplicate pair")
    if (pairs["similarity"] < threshold).any():
        fails.append("similarity below threshold")
    unknown = (set(pairs["id1"]) | set(pairs["id2"])) - processed_ids
    if unknown:
        fails.append(f"{len(unknown)} ids not in the processed stage")
    else:
        cos = np.array([
            float(emb_by_id[a] @ emb_by_id[b])
            for a, b in zip(pairs["id1"], pairs["id2"])
        ])
        slack = 0.5 * 10.0**-REPORTED_DIGITS + COSINE_TOL
        if len(cos) and np.abs(cos - pairs["similarity"].to_numpy()).max() > slack:
            fails.append("similarity differs from the recomputed cosine")
    return fails


def pair_recall(pairs: pd.DataFrame, truth: set[tuple]) -> float:
    """Share of the exact above-threshold pairs the output contains."""
    if not truth:
        return 1.0
    found = set(zip(pairs["id1"], pairs["id2"]))
    return len(found & truth) / len(truth)


def check_curation(out: pd.DataFrame, deduped_rows: int) -> list[str]:
    """corpus_curation output: unique ids, one survivor per component
    (so a component never straddles splits), a valid split, no more
    rows than the exact-dedup stage of ``curation_funnel`` kept."""
    fails = []
    if out["doc_id"].duplicated().any():
        fails.append("duplicate doc_id")
    if out["component"].duplicated().any():
        fails.append("more than one survivor in a component")
    if not out["split"].isin(["train", "eval"]).all():
        fails.append("split outside {train, eval}")
    if len(out) > deduped_rows:
        fails.append("more output rows than the exact-dedup stage")
    return fails


def straddling_groups(out: pd.DataFrame, planted: dict[int, int]) -> int:
    """Planted near-duplicate groups with survivors in both splits.

    A group straddles only when MinHash banding missed the pairs that
    would have joined its members into one component, so this counts
    recall misses that leak across splits; it is reported, not counted
    as a failed operation (``recall`` covers every miss)."""
    group = out["doc_id"].map(planted)
    splits = out[group.notna()].groupby(group[group.notna()])["split"].nunique()
    return int((splits > 1).sum())


def group_recall(out: pd.DataFrame, planted: dict[int, int]) -> float:
    """Share of planted near-duplicate groups that collapsed into one
    component: exactly one member survives keep-best."""
    n_groups = len(set(planted.values()))
    survivors = out["doc_id"].map(planted).dropna()
    collapsed = int((survivors.value_counts() == 1).sum())
    return collapsed / n_groups if n_groups else 1.0


def exact_topk(queries: np.ndarray, corpus: np.ndarray, corpus_ids: np.ndarray,
               k: int) -> list[set]:
    """Exact top-k neighbour ids of each query by cosine."""
    sims = queries @ corpus.T
    top = np.argpartition(-sims, k - 1, axis=1)[:, :k]
    return [set(corpus_ids[row]) for row in top]


def check_search(res: pd.DataFrame, query_ids: np.ndarray, corpus_ids: set,
                 k: int) -> list[str]:
    """index_serve output: k neighbours per query, all in the corpus."""
    fails = []
    counts = res.groupby("query_id").size()
    if set(counts.index) != set(query_ids) or (counts != k).any():
        fails.append(f"not every query got {k} neighbours")
    if not set(res["neighbor_id"]).issubset(corpus_ids):
        fails.append("neighbour id outside the current corpus")
    return fails


def search_recall(res: pd.DataFrame, query_ids: np.ndarray,
                  truth: list[set]) -> float:
    """Mean recall@k of a search batch against the exact top-k."""
    got = res.groupby("query_id")["neighbor_id"].apply(set)
    k = len(truth[0])
    return float(np.mean([
        len(got.get(q, set()) & t) / k for q, t in zip(query_ids, truth)
    ]))
