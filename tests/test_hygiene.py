"""Tests for the hygiene operators (SURVEY.md §2.9) and phonetic encoding."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.functions.phonetic import (
    _metaphone,
    metaphone_series,
    soundex_key,
)
from gpu_entity_resolver_spark.operators.hygiene import (
    assign_new_documents,
    assignment_index,
    check_no_key_in_two_clusters,
    check_unique_canonical_names,
    consolidate_identical_entities,
    generate_report,
    review_dataframe,
    split_clusters_by,
)


def test_metaphone_properties():
    # Metaphone implementations vary in detail; what matters for blocking/
    # scoring is that sound-alike spellings map to the same key and
    # different-sounding words do not.
    same = [
        ("Smith", "Smyth"),
        ("crystal", "kristal"),
        ("clean", "kleen"),
        ("Philips", "Filips"),
        ("Knight", "Night"),
        ("service", "servise"),
    ]
    for a, b in same:
        assert _metaphone(a) == _metaphone(b), (a, b, _metaphone(a), _metaphone(b))
    assert _metaphone("waste") != _metaphone("midwest")
    assert _metaphone("") == ""
    s = metaphone_series(pd.Series(["crystal clean service", None, ""]))
    assert s.iloc[0].count(" ") == 2 and s.iloc[0].isupper()
    assert s.iloc[1] == "" and s.iloc[2] == ""


def test_soundex_key(spark):
    # soundex keeps the first letter, so pick same-initial sound-alikes
    df = spark.createDataFrame([("smith waste svc",), ("smyth waist svc",)], "t string")
    out = [r["k"] for r in df.select(soundex_key(F.col("t")).alias("k")).collect()]
    assert out[0] == out[1]  # phonetically equal names share the key


def test_consolidate_identical_entities(spark):
    rows = [
        # key "a" appears in clusters 1 (2 rows) and 2 (1 row) -> all to 1
        (1, "a"), (1, "a"), (2, "a"),
        (2, "b"),
        (3, "c"),
    ]
    df = spark.createDataFrame(rows, "cluster long, norm_text string")
    out = consolidate_identical_entities(df)
    got = {(r["norm_text"], r["cluster"]) for r in out.collect()}
    assert ("a", 1) in got and ("a", 2) not in got
    assert ("b", 2) in got and ("c", 3) in got
    assert check_no_key_in_two_clusters(out) == 0


def test_split_clusters_by(spark):
    rows = [
        (10, "en", "x1"), (10, "en", "x2"), (10, "de", "x3"),  # spans 2 langs
        (20, "en", "y1"), (20, "en", "y2"),                      # single lang
    ]
    df = spark.createDataFrame(rows, "cluster long, lang string, norm_text string")
    out = split_clusters_by(df, "lang")
    clusters = {
        (r["lang"], r["cluster"]) for r in out.where(F.col("norm_text").startswith("x")).collect()
    }
    langs = {l for l, _ in clusters}
    ids = {c for _, c in clusters}
    assert langs == {"en", "de"} and len(ids) == 2  # split happened
    assert out.where(F.col("norm_text").startswith("y")).select("cluster").distinct().count() == 1
    # minted ids are fresh: distinct per language and disjoint from input ids
    assert ids.isdisjoint({10, 20})


def test_invariant_unique_canonical(spark):
    canon = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        "cluster long, canonical_text string",
    )
    assert check_unique_canonical_names(canon) == 1


def test_report_and_review(spark):
    resolved = spark.createDataFrame(
        [
            (1, 1, "a", "a", 2, 0.9, "VeryHigh", False, ""),
            (2, 1, "a2", "a", 2, 0.6, "Medium", True, "low_confidence"),
            (3, 3, "b", "b", 1, 0.5, "Low", True, "low_confidence,singleton_changed"),
        ],
        "doc_id long, cluster long, norm_text string, canonical_text string,"
        "cluster_size long, confidence_score double, confidence_category string,"
        "needs_review boolean, review_reason string",
    )
    rep = generate_report(resolved)
    assert rep["n_docs"] == 3 and rep["n_clusters"] == 2
    assert rep["n_needs_review"] == 2
    assert rep["review_reasons"]["low_confidence"] == 2
    rev = review_dataframe(resolved)
    assert rev.count() == 2


def test_assign_new_documents(spark):
    canon = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "cluster long, canonical_text string",
    )
    new = spark.createDataFrame(
        [
            (7, "the quick brown fox jumps over the lazy dog today"),
            (8, "completely unrelated zebra text with nothing shared qq"),
        ],
        "doc_id long, norm_text string",
    )
    out = {r["doc_id"]: r for r in assign_new_documents(spark, new, canon).collect()}
    assert out[7]["cluster"] == 100 and not out[7]["is_new_entity"]
    assert out[8]["cluster"] == 8 and out[8]["is_new_entity"]


# assign_new_documents rows on the sf0.001 webgen corpus (2,116 docs, 476
# entities): the first page of each entity (by doc_id) is its cluster's
# canonical text; new frame A is every entity's second page, B the rest.
# Row count and sha256 of the sorted lines
# "doc_id,cluster,match_score,is_new_entity" (score at 9 decimals),
# computed when assign_new_documents rebuilt the canonical side per call.
# max_block_size=1 caps every rep key shared by two reps.
_ASSIGN_ROWS = {
    128: (
        (410, "3dd3a4092c5accd072ff7d23b363d5b67c080c7b41db4da351c7521a7699f670"),
        (1230, "9b619a724fdb834aa151a8dd0679ff153b97ec7b903941cf9e5be72eef97d61c"),
    ),
    1: (
        (410, "3dd3a4092c5accd072ff7d23b363d5b67c080c7b41db4da351c7521a7699f670"),
        (1230, "5fc9fd6120d33456eee91077fb7822de36b32c248e132cf12c98398507ff5e08"),
    ),
}


def _assign_digest(rows) -> tuple[int, str]:
    lines = sorted(
        f"{r['doc_id']},{r['cluster']},{r['match_score']:.9f},{r['is_new_entity']}"
        for r in rows
    )
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


@pytest.mark.parametrize("max_block_size", sorted(_ASSIGN_ROWS))
def test_assignment_index_reuse_pinned(spark, sf_dir, max_block_size):
    """One assignment_index serves two different new-doc frames with the
    rows a per-call canon DataFrame gives, pinned to the digests of the
    per-call build."""
    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.functions.extraction import extracted_text
    from gpu_entity_resolver_spark.functions.normalize import normalize_entity_text
    from gpu_entity_resolver_spark.sources.webgen import generate_documents

    cfg = ResolverConfig()
    cfg.blocking.max_block_size = max_block_size
    docs = (
        generate_documents(spark, sf_dir)
        .select(
            "doc_id",
            normalize_entity_text(
                extracted_text(F.col("html"), F.col("text")),
                cfg.replacements,
                cfg.suffixes_to_remove,
            ).alias("norm_text"),
            F.row_number()
            .over(Window.partitionBy("entity_id").orderBy("doc_id"))
            .alias("_r"),
        )
        .localCheckpoint(eager=True)
    )
    canon = docs.where("_r = 1").select(
        F.col("doc_id").alias("cluster"), F.col("norm_text").alias("canonical_text")
    )
    frames = [
        docs.where("_r = 2").select("doc_id", "norm_text"),
        docs.where("_r >= 3").select("doc_id", "norm_text"),
    ]
    index = assignment_index(canon, cfg)
    for new, pinned in zip(frames, _ASSIGN_ROWS[max_block_size]):
        per_call = _assign_digest(assign_new_documents(spark, new, canon, cfg).collect())
        reused = _assign_digest(assign_new_documents(spark, new, index, cfg).collect())
        assert per_call == reused == pinned
