"""The per-partition document-frequency partials (r6) must aggregate to
EXACTLY the per-doc term-count formulation's frequencies — the broadcast
IDF table (and so every TF-IDF vector) is built from them — and the
distributed fallback of doc_vector_table must build the same vectors as
the broadcast path."""

import random

from pyspark.sql import functions as F

from gpu_entity_resolver_spark.operators.shingles import (
    _doc_term_counts,
    _partition_term_dfs,
    doc_vector_table,
)


def _corpus(spark, n_lo_len=0, n_docs=300):
    rng = random.Random(5)
    alphabet = "abcdef ghé"  # incl. a multi-byte char
    texts = ["", "a", "abc", None, "abcd"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(n_lo_len, 80)))
        for _ in range(n_docs)
    ]
    texts += texts[5:15]  # repeated docs: df counts each doc once
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(7)


def _dfs(df):
    return {r.h: r.df for r in df.collect()}


def test_partition_dfs_match_per_doc_counts(spark):
    docs = _corpus(spark)
    for n_lo, n_hi in ((4, 4), (3, 5)):
        got = _dfs(
            _partition_term_dfs(docs, "doc_id", "text", n_lo, n_hi)
            .groupBy("h")
            .agg(F.sum("df").alias("df"))
        )
        want = _dfs(
            _doc_term_counts(docs, "doc_id", "text", n_lo, n_hi)
            .groupBy("h")
            .agg(F.count("*").alias("df"))
        )
        assert got == want


def test_doc_vector_table_fallback_equals_broadcast(spark, sf_dir):
    """broadcast_max_terms=0 forces the shuffle-based tfidf_weights +
    doc_vectors build; it must give the same doc ids, keys and float bits
    as the map-side broadcast build."""
    texts = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("norm_text")
    )
    for n_lo, n_hi, top_k in ((4, 4, 48), (3, 5, 128)):
        built = {
            limit: {
                r.doc_id: r.vec
                for r in doc_vector_table(
                    texts, n_lo=n_lo, n_hi=n_hi, top_k=top_k,
                    broadcast_max_terms=limit,
                ).collect()
            }
            for limit in (0, 4_000_000)
        }
        assert len(built[0]) == texts.count()
        assert built[0] == built[4_000_000], (n_lo, n_hi, top_k)
