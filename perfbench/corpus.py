"""Seeded benchmark inputs: one webgen corpus, split into a base corpus and
a stream of new documents.

Everything is a pure function of the seed. ``generate_documents`` draws the
corpus (1-8 perturbed page variants per entity of the shipped base table);
a ``numpy`` generator seeded the same way then

- holds out every document of ~10% of the entities, and the last page
  variant of every other entity that has at least two;
- takes the first ``BASE_DOCS`` remaining docs, entity by entity in a
  seeded order, as the base corpus;
- draws ``BATCH_DOCS`` held-out docs per batch file for the stream.

Fixed sizes keep throughput comparable across seeds: the seed changes which
docs, never how many. A held-out doc whose entity has no doc in the base
corpus must come back ``is_new_entity``; any other must land in the cluster
the base resolve gave its entity.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# Entities drawn from the shipped base table (ids 0..499): enough that every
# seed yields the fixed sizes below with room to spare.
GENERATED_ENTITIES = 350
HELD_OUT_ENTITY_SHARE = 0.10
# One resolve call over this many docs sits near the engine's fixed
# per-call floor on a 4-core host, so setup plus timed calls stays near a
# minute per run.
BASE_DOCS = 800
BATCH_DOCS = 80

# The input shape the engine reads (webgen INPUT_COLUMNS).
ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
SPARK_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


@dataclass
class Inputs:
    truth: pd.DataFrame  # doc_id (engine id, xxhash64(url)), url, entity_id, role
    base_dir: str  # parquet directory of the base corpus
    batch_files: list[str]  # parquet files of new docs; [0] is the warm-up batch
    batch_doc_ids: list[np.ndarray]

    @property
    def base(self) -> pd.DataFrame:
        return self.truth[self.truth["role"] == "base"]


def _write(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(
        pdf[ARROW_SCHEMA.names], schema=ARROW_SCHEMA, preserve_index=False
    )
    pq.write_table(table, path)


def build_inputs(spark, work_dir: str, seed: int, n_batches: int) -> Inputs:
    from pyspark.sql import functions as F

    from gpu_entity_resolver_spark.sources.webgen import generate_documents

    docs = (
        generate_documents(spark, DATA_DIR, seed=seed, max_entities=GENERATED_ENTITIES)
        .select(F.xxhash64("url").alias("doc_id"), "entity_id", *ARROW_SCHEMA.names)
        .toPandas()
    )
    docs["warc_ts"] = pd.to_datetime(docs["warc_ts"], utc=True)
    docs["variant"] = docs["url"].str.extract(r"/page/\d+-(\d+)")[0].astype(int)

    rng = np.random.default_rng(seed)
    entities = rng.permutation(np.sort(docs["entity_id"].unique()))
    docs["rank"] = docs["entity_id"].map(pd.Series(np.arange(len(entities)), entities))
    docs = docs.sort_values(["rank", "variant"], ignore_index=True)
    held = entities[: max(1, int(round(len(entities) * HELD_OUT_ENTITY_SHARE)))]

    per_entity = docs.groupby("entity_id")["variant"]
    last_variant = (docs["variant"] == per_entity.transform("max")) & (
        per_entity.transform("size") >= 2
    )
    held_out = docs["entity_id"].isin(held) | last_variant
    base = docs[~held_out].head(BASE_DOCS).assign(role="base")
    pool = docs[held_out]
    pool = pool.iloc[rng.permutation(len(pool))].head(BATCH_DOCS * n_batches)
    if len(base) < BASE_DOCS or len(pool) < BATCH_DOCS * n_batches:
        raise RuntimeError(f"seed {seed} drew too few docs for the fixed input sizes")
    new = pool.assign(
        role=np.where(pool["entity_id"].isin(base["entity_id"]), "new_variant", "new_entity")
    )

    base_dir = os.path.join(work_dir, "base")
    _write(base, os.path.join(base_dir, "part-0.parquet"))
    batch_files, batch_ids = [], []
    for i in range(n_batches):
        part = new.iloc[i * BATCH_DOCS : (i + 1) * BATCH_DOCS]
        path = os.path.join(work_dir, "batches", f"batch-{i:03d}.parquet")
        _write(part, path)
        batch_files.append(path)
        batch_ids.append(part["doc_id"].to_numpy())

    truth = pd.concat([base, new])[["doc_id", "url", "entity_id", "role"]]
    return Inputs(truth.reset_index(drop=True), base_dir, batch_files, batch_ids)
