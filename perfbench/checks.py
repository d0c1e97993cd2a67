"""Output checks and quality scores, computed on the driver from the
collected outputs (untimed).

Pair F1 comes from (cluster, entity) contingency counts: a set of n docs
holds n(n-1)/2 pairs, so true positives, predicted pairs and true pairs are
three grouped sums, never a self-join over the docs.
"""

from __future__ import annotations

import hashlib

import pandas as pd


def _pairs(sizes: pd.Series) -> int:
    n = sizes.astype("int64")
    return int((n * (n - 1) // 2).sum())


def pair_f1(cluster: pd.Series, entity: pd.Series) -> float:
    frame = pd.DataFrame({"c": cluster.to_numpy(), "e": entity.to_numpy()})
    tp = _pairs(frame.groupby(["c", "e"]).size())
    predicted = _pairs(frame.groupby("c").size())
    actual = _pairs(frame.groupby("e").size())
    precision = tp / predicted if predicted else 1.0
    recall = tp / actual if actual else 1.0
    return 2 * precision * recall / (precision + recall) if tp else 0.0


def home_clusters(cluster: pd.Series, entity: pd.Series) -> pd.Series:
    """entity_id -> home cluster. Each cluster belongs to the entity with
    most docs in it; an entity's home is the largest cluster it owns, and
    an entity that owns none has no home."""
    counts = (
        pd.DataFrame({"c": cluster.to_numpy(), "e": entity.to_numpy()})
        .groupby(["c", "e"]).size().rename("n").reset_index()
        .sort_values(["n", "c", "e"], ascending=[False, True, True])
    )
    owners = counts.drop_duplicates("c")  # each cluster's largest entity
    return owners.drop_duplicates("e").set_index("e")["c"]


def doc_accuracy(cluster: pd.Series, entity: pd.Series) -> float:
    """Share of docs placed in their entity's home cluster."""
    home = home_clusters(cluster, entity)
    return float((entity.map(home).to_numpy() == cluster.to_numpy()).mean())


def check_resolved(out: pd.DataFrame, docs: pd.DataFrame) -> list[str]:
    """Invariants of one resolve output against its input docs."""
    problems = []
    if len(out) != len(docs) or set(out["url"]) != set(docs["url"]):
        problems.append(
            f"resolve emitted {len(out)} rows for {len(docs)} input docs "
            "(every input doc must appear exactly once)"
        )
    elif out["url"].duplicated().any():
        problems.append("a doc appears in more than one output row")
    members = out.groupby("cluster")["doc_id"].transform("size")
    if (members != out["cluster_size"]).any():
        problems.append("cluster_size differs from the cluster's member count")
    names = set(zip(out["cluster"], out["norm_text"]))
    if not all(pair in names for pair in zip(out["cluster"], out["canonical_text"])):
        problems.append("canonical_text is not one of its cluster's norm_texts")
    return problems


def check_assigned(out: pd.DataFrame, batch_doc_ids: list) -> list[list[str]]:
    """Per batch file: exactly one output row per new doc of the file. The
    sink numbers batches itself, so each batch's doc set is matched to the
    file with the same docs."""
    problems: list[list[str]] = [[] for _ in batch_doc_ids]
    emitted = {
        frozenset(ids.tolist()): len(ids)
        for ids in (g["doc_id"].to_numpy() for _, g in out.groupby("batch_id"))
    }
    for i, ids in enumerate(batch_doc_ids):
        rows = emitted.get(frozenset(ids.tolist()))
        if rows != len(ids):
            problems[i].append(
                f"batch file {i}: no micro-batch emitted exactly its "
                f"{len(ids)} docs once each"
            )
    return problems


def assign_accuracy(
    assigned: pd.DataFrame, truth: pd.DataFrame, base_out: pd.DataFrame
) -> float:
    """Share of new docs assigned right: a doc whose entity has no doc in
    the base corpus must be flagged ``is_new_entity``; any other must land,
    not flagged new, in its entity's home cluster of the base resolve."""
    base = base_out.merge(truth[["doc_id", "entity_id"]], on="doc_id")
    home = home_clusters(base["cluster"], base["entity_id"])
    got = assigned.merge(truth[["doc_id", "entity_id", "role"]], on="doc_id")
    held_out = got["role"] == "new_entity"
    right_home = ~got["is_new_entity"] & (
        got["entity_id"].map(home).to_numpy() == got["cluster"].to_numpy()
    )
    return float((held_out & got["is_new_entity"] | ~held_out & right_home).mean())


def row_hash(out: pd.DataFrame, columns: list[str]) -> str:
    rows = out[columns].sort_values(columns).itertuples(index=False, name=None)
    return hashlib.sha256(repr(list(rows)).encode()).hexdigest()
