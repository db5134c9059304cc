"""Output gate: every run's clusters are checked against the inputs.

- pair recall >= 0.99 against the planted truth (precision is reported);
- per-row sha256 invariant: documents with equal content share a cluster;
- every input document is assigned exactly once, and each cluster_id is
  its minimum member.

Pair scores come from the truth x found contingency table, so no pair
list is ever built: TP = sum over cells of C(n, 2).
"""

from __future__ import annotations

import hashlib

import pandas as pd

MIN_RECALL = 0.99


def _pairs(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def pair_scores(found: pd.DataFrame, docs: pd.DataFrame) -> tuple[float, float]:
    """(recall, precision) of found(doc_id, cluster_id) against
    docs(doc_id, truth)."""
    m = docs[["doc_id", "truth"]].merge(found[["doc_id", "cluster_id"]],
                                        on="doc_id")
    tp = _pairs(m.groupby(["truth", "cluster_id"]).size())
    truth_pairs = _pairs(m.groupby("truth").size())
    found_pairs = _pairs(m.groupby("cluster_id").size())
    recall = tp / truth_pairs if truth_pairs else 1.0
    precision = tp / found_pairs if found_pairs else 1.0
    return recall, precision


def check(found: pd.DataFrame, docs: pd.DataFrame) -> dict:
    """found(doc_id, cluster_id), docs(doc_id, truth, content) ->
    {"checks": {name: bool}, "pair_recall": .., "pair_precision": ..}."""
    ids = found["doc_id"]
    assigned_once = bool(ids.is_unique and len(ids) == len(docs)
                         and set(ids) == set(docs["doc_id"]))
    mins = found.groupby("cluster_id")["doc_id"].min()
    cluster_is_min = bool((mins.index == mins.to_numpy()).all())
    sha = docs["content"].map(
        lambda s: hashlib.sha256(s.encode()).hexdigest())
    by_sha = pd.DataFrame({"doc_id": docs["doc_id"], "sha": sha}).merge(
        found[["doc_id", "cluster_id"]], on="doc_id")
    sha_invariant = bool((by_sha.groupby("sha")["cluster_id"].nunique()
                          <= 1).all())
    recall, precision = pair_scores(found, docs)
    return {
        "checks": {
            "assigned_once": assigned_once,
            "cluster_id_is_min_member": cluster_is_min,
            "sha256_equal_content_same_cluster": sha_invariant,
            f"pair_recall_ge_{MIN_RECALL}": recall >= MIN_RECALL,
        },
        "pair_recall": recall,
        "pair_precision": precision,
    }
