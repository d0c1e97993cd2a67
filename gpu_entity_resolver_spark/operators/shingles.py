"""Character-shingle TF-IDF vectors and the per-pair cosine.

The reference vectorizes with cuML ``TfidfVectorizer(analyzer='char',
ngram_range=(3,5), sublinear_tf=True)`` (reference resolver.py:329-350,
config.py:57-64). Here one numpy gram kernel (:func:`_gram_kernel`) turns
each document's byte n-grams into int64 codes map-side;
:func:`doc_vector_table` builds per-doc pruned, L2-normalized sublinear
TF-IDF vectors against a broadcast document-frequency table, with
:func:`tfidf_weights` + :func:`doc_vectors` as the shuffle-based fallback
for vocabularies too large to broadcast; :func:`pair_cosine_vecs` attaches
two vectors per candidate pair and folds their dot product in the JVM.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gram_kernel(n_lo: int, n_hi: int) -> Callable[[str | None], np.ndarray]:
    """Return ``codes(text)``: the int64 code of every byte n-gram of the
    UTF-8 text for n in [n_lo, n_hi], repeats included.

    Each gram becomes its n bytes packed base-256 via a vectorized
    sliding-window dot product, plus a width tag at bit 48 (hash semantics
    are internal to the scorer — nothing downstream needs xxhash parity).
    A text shorter than n contributes one deterministic code for the whole
    string at that width, so very short docs still score. Codes are
    strictly positive and never collide across widths."""
    # width 7+ would overflow into the tag and silently collide terms
    # across widths
    if n_hi > 6:
        raise ValueError(
            f"shingle width n_hi={n_hi} exceeds 6; gram codes only hold 6 "
            "bytes below the width tag at bit 48"
        )
    widths = list(range(n_lo, n_hi + 1))
    mults = {n: (256 ** np.arange(n, dtype=np.int64)) for n in widths}
    tags = {n: np.int64(n) << np.int64(48) for n in widths}

    def codes(text: str | None) -> np.ndarray:
        b = np.frombuffer(
            ("" if text is None else str(text)).encode("utf-8"), dtype=np.uint8
        )
        parts = []
        for n in widths:
            if len(b) >= n:
                win = np.lib.stride_tricks.sliding_window_view(b, n)
                parts.append(win.astype(np.int64) @ mults[n] + tags[n])
            else:
                digest = hashlib.md5(bytes(b) + bytes([n])).digest()
                parts.append(
                    np.array(
                        [int.from_bytes(digest[:6], "little") + tags[n]],
                        dtype=np.int64,
                    )
                )
        return np.concatenate(parts)

    return codes


def _doc_term_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_lo: int,
    n_hi: int,
) -> DataFrame:
    """Per-document shingle term counts (doc_id, h, tf) computed MAP-SIDE in
    numpy over Arrow batches.

    The former JVM formulation exploded ~290 substring shingles per doc
    (UTF8String allocation each) and shuffled the exploded table into a
    groupBy — at 32 local cores the allocation/DRAM traffic made the stage
    run barely faster than at 8. Here each byte n-gram becomes an int64 code
    via a vectorized sliding-window dot product and ``np.unique`` yields the
    counts, all inside the map task: no string churn, no tf shuffle at all
    (gram codes: :func:`_gram_kernel`)."""
    codes = _gram_kernel(n_lo, n_hi)

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id: list[np.ndarray] = []
            out_h: list[np.ndarray] = []
            out_tf: list[np.ndarray] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                uniq, counts = np.unique(codes(text), return_counts=True)
                out_id.append(np.full(len(uniq), int(doc_id), dtype=np.int64))
                out_h.append(uniq)
                out_tf.append(counts.astype(np.int64))
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(out_id) if out_id else np.array([], dtype=np.int64),
                    "h": np.concatenate(out_h) if out_h else np.array([], dtype=np.int64),
                    "tf": np.concatenate(out_tf) if out_tf else np.array([], dtype=np.int64),
                }
            )

    return docs.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInPandas(per_batch, "doc_id long, h long, tf long")


def _partition_term_dfs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_lo: int,
    n_hi: int,
) -> DataFrame:
    """Partial document frequencies (h, df) aggregated INSIDE each map
    partition in numpy.

    ``_doc_term_counts(...).groupBy("h").count()`` ships one Arrow row per
    (doc, distinct term) out of Python — ~260 rows per 300-char doc — only
    for the aggregation to collapse them again. A document contributes
    exactly 1 to each of its distinct terms' df, and df partials sum
    associatively, so each partition can emit its own (h, count-of-docs)
    table instead: output rows drop from O(docs x terms-per-doc) to
    O(distinct terms per partition) (guide §2.3 "aggregate before you
    shuffle", here applied to the Python->JVM boundary as well as the
    exchange). Values are EXACTLY the per-doc formulation's — only the
    partial-aggregation site moves. Memory is bounded by flushing a partial
    block every ~4M accumulated entries; the downstream groupBy sums
    partials either way."""
    codes = _gram_kernel(n_lo, n_hi)
    flush_entries = 4_000_000

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[np.ndarray] = []
        acc_n = 0

        def drain() -> pd.DataFrame:
            nonlocal acc, acc_n
            h, c = np.unique(np.concatenate(acc), return_counts=True)
            acc, acc_n = [], 0
            return pd.DataFrame({"h": h, "df": c.astype(np.int64)})

        for pdf in batches:
            for text in pdf[text_col]:
                u = np.unique(codes(text))
                acc.append(u)
                acc_n += len(u)
                if acc_n >= flush_entries:
                    yield drain()
        if acc:
            yield drain()

    return docs.select(F.col(text_col).alias(text_col)).mapInPandas(
        per_partition, "h long, df long"
    )


def tfidf_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    n_lo: int = 3,
    n_hi: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Sublinear TF-IDF weights, exploded one row per (doc, shingle-hash):
    (doc_id, h, w_raw). Matches the sklearn/cuML formula the reference uses:
    ``w = (1 + ln tf) * (ln((1+N)/(1+df)) + 1)``. L2 normalization happens
    in :func:`doc_vectors` over the kept (post-top-k) entries — identical
    result to normalize-then-prune-then-renormalize, one shuffle cheaper.

    Per-doc term counts come from :func:`_doc_term_counts` (numpy, map-side,
    no tf shuffle); only the doc-frequency aggregation, the IDF join and the
    per-doc vector build shuffle — all on int64 keys.
    """
    # N (corpus size) stays a lazy 1-row aggregate broadcast into the weight
    # expression — an eager docs.count() here fired a full scan at plan
    # CONSTRUCTION time on every score_pairs call (including merge/assign
    # paths); as part of the plan it runs once, inside the same job.
    n_docs = docs.agg(F.count("*").alias("_n_docs"))
    tf = _doc_term_counts(docs, id_col, text_col, n_lo, n_hi)
    dfreq = tf.groupBy("h").agg(F.count("*").alias("df"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("df") >= min_df)
    return (
        tf.join(dfreq, "h")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "h",
            (
                (1.0 + F.log(F.col("tf").cast("double")))
                * (
                    F.log(
                        (1.0 + F.col("_n_docs").cast("double"))
                        / (1.0 + F.col("df"))
                    )
                    + 1.0
                )
            ).alias("w_raw"),
        )
    )


def doc_vectors(
    weights: DataFrame,
    top_k: int | None = 128,
) -> DataFrame:
    """Collapse the exploded (doc_id, h, w_raw) weight table into one
    ``map<long, float>`` vector per doc: ONE groupBy that collects the
    entries, then a single JVM expression sorts, keeps the ``top_k``
    highest-weight shingles (tie: hash asc) and L2-normalizes the kept set.

    The former formulation spent three extra shuffles here (norms groupBy +
    join + per-doc window); per-doc arrays are bounded by document length so
    the collect_list is safe at any corpus size. ``top_k`` is the scale
    lever bounding per-pair dot cost and vector-attach shuffle bytes; the
    reference's ``max_features=10000`` (config.py:60) plays the same role.
    """
    k = 1 << 30 if top_k is None else top_k
    arr = F.expr(
        "slice(array_sort(_entries, (a, b) -> CASE WHEN a.w > b.w THEN -1 "
        "WHEN a.w < b.w THEN 1 WHEN a.h < b.h THEN -1 WHEN a.h > b.h THEN 1 "
        f"ELSE 0 END), 1, {k})"
    )
    # float32 weights: halves the per-pair shuffle bytes of attaching
    # vectors to candidate pairs; cosine is computed in double downstream.
    vec = F.expr(
        "map_from_entries(transform(_kept, e -> struct(e.h AS h, "
        "cast(e.w / _l2 AS float) AS w)))"
    )
    return (
        weights.groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("w_raw").alias("w"), F.col("h").alias("h"))
            ).alias("_entries")
        )
        .withColumn("_kept", arr)
        .withColumn(
            "_l2",
            F.expr("sqrt(aggregate(_kept, 0D, (acc, x) -> acc + x.w * x.w))"),
        )
        .select("doc_id", vec.alias("vec"))
    )


def doc_vector_table(
    texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    n_lo: int = 3,
    n_hi: int = 5,
    min_df: int = 1,
    top_k: int | None = 128,
    broadcast_max_terms: int = 4_000_000,
) -> DataFrame:
    """One (doc_id, vec: map<long,float>) row per doc — same result as
    ``doc_vectors(tfidf_weights(...))`` but built MAP-SIDE when the distinct
    term count fits a broadcast.

    The join formulation shuffles the full exploded (doc, h, tf) table into
    a groupBy and sorts each doc's entries with an interpreted lambda
    comparator — measured 157s of a 390s scoring breakdown at 32 cores
    (amplified sf0.1), and the worst-scaling stage from 8 to 32 cores. Char
    4-gram vocabularies are heavy-tailed and small relative to the corpus
    (43.8k distinct terms for 128k web docs here), so the doc-frequency
    table broadcasts: one pass computes df, then a second map-side pass
    recomputes each doc's term counts in numpy, looks the IDF up via
    ``searchsorted``, prunes to ``top_k`` (weight desc, hash asc — the same
    deterministic tie-break as the JVM path) and L2-normalizes, emitting the
    finished vector with NO tf shuffle, NO idf join and NO per-doc lambda
    sort. Term counting runs twice; it is embarrassingly parallel and ~5x
    cheaper than the shuffle it replaces.

    Corpora whose vocabulary exceeds ``broadcast_max_terms`` (possible at
    true web scale with unbounded unicode grams) fall back to the join
    formulation — same result, documented cost.
    """
    # Pass 1: document frequencies from per-partition numpy partials (exact
    # same counts as the former per-doc (doc_id, h, tf) emission + groupBy,
    # at ~1/200th the Python->JVM rows — see _partition_term_dfs).
    dfreq = (
        _partition_term_dfs(texts, id_col, text_col, n_lo, n_hi)
        .groupBy("h")
        .agg(F.sum("df").alias("df"))
    )
    if min_df > 1:
        dfreq = dfreq.where(F.col("df") >= min_df)
    # ONE Arrow-batched action fetches the df table AND the corpus size:
    # limit(max+1) bounds the transfer (if we got <= max rows we have the
    # WHOLE table and can broadcast; otherwise fall back without pulling the
    # rest), the unioned sentinel row (h = -1, impossible as a gram code —
    # real codes are strictly positive: bytes-base-256 below a positive
    # width tag) rides along AFTER the limit so it always survives, and
    # toPandas keeps the transfer columnar — the former .collect() boxed up
    # to 4M Row objects on the driver, GBs at the ceiling, plus a separate
    # texts.count() scan.
    sentinel = texts.agg(F.count("*").alias("df")).select(
        F.lit(-1).cast("long").alias("h"), F.col("df")
    )
    pdf = dfreq.limit(broadcast_max_terms + 1).unionByName(sentinel).toPandas()
    n_docs = int(pdf.loc[pdf["h"] == -1, "df"].iloc[0])
    pdf = pdf[pdf["h"] != -1]
    if len(pdf) > broadcast_max_terms:
        return doc_vectors(
            tfidf_weights(texts, id_col, text_col, n_lo, n_hi, min_df),
            top_k=top_k,
        )
    h_arr = pdf["h"].to_numpy(dtype=np.int64)
    df_arr = pdf["df"].to_numpy(dtype=np.int64)
    order = np.argsort(h_arr)
    h_sorted = h_arr[order]
    idf_sorted = np.log((1.0 + n_docs) / (1.0 + df_arr[order])) + 1.0
    sc = texts.sparkSession.sparkContext
    bc = sc.broadcast((h_sorted, idf_sorted))

    codes = _gram_kernel(n_lo, n_hi)
    k = (1 << 30) if top_k is None else top_k

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hs, idfs = bc.value
        for pdf in batches:
            ids: list[int] = []
            vecs: list[dict] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                uniq, counts = np.unique(codes(text), return_counts=True)
                if len(hs):
                    pos_c = np.minimum(np.searchsorted(hs, uniq), len(hs) - 1)
                    keep = hs[pos_c] == uniq
                else:
                    pos_c = np.zeros(len(uniq), dtype=np.int64)
                    keep = np.zeros(len(uniq), dtype=bool)
                # terms absent from the df table exist only when min_df
                # filtered them — drop, matching the join formulation
                uniq, counts, pos_c = uniq[keep], counts[keep], pos_c[keep]
                if len(uniq) == 0:
                    ids.append(int(doc_id))
                    vecs.append({})
                    continue
                w = (1.0 + np.log(counts.astype(np.float64))) * idfs[pos_c]
                # top-k: weight desc, hash asc — identical to the JVM
                # comparator in doc_vectors
                sel = np.lexsort((uniq, -w))[:k]
                w_kept, h_kept = w[sel], uniq[sel]
                l2 = math.sqrt(float(np.dot(w_kept, w_kept)))
                vals = (w_kept / l2).astype(np.float32) if l2 > 0 else w_kept
                ids.append(int(doc_id))
                vecs.append(dict(zip(h_kept.tolist(), vals.tolist())))
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"), "vec": vecs})

    out = texts.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInPandas(per_batch, f"{id_col} long, vec map<long,float>")
    # The corpus size is already known here (the sentinel fetch above) —
    # record it on the frame so pair_cosine_vecs can choose a broadcast
    # join when the whole vector table is provably small (guide §3.1: the
    # estimate-based planner sees only an opaque mapInPandas and defaults
    # to sort-merge).
    out._dvt_n_docs = n_docs  # type: ignore[attr-defined]
    return out


# Pair dot product over two pruned term->weight maps. Three formulations
# measured at 1.07M pairs / top_k=128, local[32], warm codegen:
#   map_zip_with union map        — boxed per-pair allocation, 58.8 s
#   aggregate over vec_a entries,
#     element_at probe into vec_b — primitive but O(k²) linear probes, 4.6 s
#   array_intersect + probe (this)— hash-set key intersection O(k), then
#     element_at probes only for SHARED keys, 1.3 s (3.5x)
# Result is BITWISE identical to the full-iteration form (verified
# `a IS DISTINCT FROM b` count == 0 over all 1.07M pairs, and pinned by
# tests/test_pair_dot.py): missed keys contributed exact +0.0 terms, which
# never change a finite IEEE accumulator, and array_intersect preserves
# vec_a's key order, so the surviving products accumulate in the same
# order with the same values. Most candidate pairs share few terms
# (only ~5% clear the 0.35 cosine prefilter), so the average probe count
# collapses from k² to |intersection|·k.
_DOT_SQL = (
    "aggregate(array_intersect(map_keys(vec_a), map_keys(vec_b)), 0D,"
    " (acc, k) -> acc + cast(element_at(vec_a, k) as double)"
    " * cast(element_at(vec_b, k) as double))"
)


def pair_cosine_vecs(
    pairs: DataFrame,
    vecs: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_max_docs: int = 400_000,
) -> DataFrame:
    """Cosine similarity per candidate pair from a prebuilt (doc_id, vec)
    table of L2-normalized vectors: ``cos = sum(w_src * w_dst)`` over
    shared shingles. Re-expresses reference utils.py:211-232 (row-wise
    TF-IDF cosine) as two linear equi-joins attaching each side's pruned
    weight map, then the JVM ``array_intersect`` + ``aggregate`` dot
    product (``_DOT_SQL`` above) — whole-stage-codegen, no Python, no
    per-shingle shuffle.

    Join strategy (guide §3.1): a sort-merge pick here would shuffle the
    PAIRS twice, the second time with the ~600-byte ``vec_a`` map already
    attached. On this engine's plans the optimizer usually broadcasts the
    vector side on its own (Spark 4 propagates size stats through the
    lazy localCheckpoint), but that decision rests on ESTIMATES of an
    opaque mapInPandas output and flips to sort-merge whenever the
    estimate drifts past the 64 MB auto threshold. The builder KNOWS the
    real row count (``_dvt_n_docs``): at or below ``broadcast_max_docs``
    (~250 MB built at top_k=48 — far under the 8 GB broadcast cap) the
    broadcast is hinted explicitly, pinning the strategy to the known
    size instead of the estimate; ReuseExchange ships one build for both
    joins. Corpora above the bound keep the planner's choice — that bound
    is what makes this safe at the 100 TB target, where the vector table
    is shuffle-sized. Strategy choice never changes values."""
    # Barrier: the vector table feeds BOTH side joins; without it the
    # whole vector build (term counts included) runs twice.
    n_docs = getattr(vecs, "_dvt_n_docs", None)
    vecs = vecs.localCheckpoint(eager=False)
    if n_docs is not None and n_docs <= broadcast_max_docs:
        vecs = F.broadcast(vecs)
    dot = F.expr(_DOT_SQL)
    return (
        pairs.select(src_col, dst_col)
        .join(
            vecs.select(F.col("doc_id").alias(src_col), F.col("vec").alias("vec_a")),
            src_col,
        )
        .join(
            vecs.select(F.col("doc_id").alias(dst_col), F.col("vec").alias("vec_b")),
            dst_col,
        )
        .select(src_col, dst_col, dot.alias("tfidf_cos"))
    )
