"""Tests for multimodal plumbing and the streaming front door."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.functions.multimodal import (
    decode_image,
    encode_fake_image,
    generate_fake_images,
    image_features,
    resize_images,
)


def test_fake_codec_roundtrip():
    payload = encode_fake_image(20, 10, seed=1)
    img = decode_image(payload)
    assert img.shape == (10, 20)


def test_decode_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n....")


def test_image_features_and_resize(spark):
    imgs = generate_fake_images(spark, n=50)
    feats = image_features(imgs)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["width"] >= 16 and r["height"] >= 16
        assert 0 <= r["mean_intensity"] <= 255
    # determinism across partitioning
    feats2 = {
        r["doc_id"]: r["phash"]
        for r in image_features(imgs.repartition(13)).collect()
    }
    assert {r["doc_id"]: r["phash"] for r in rows} == feats2
    small = resize_images(imgs, target=8)
    out = image_features(small).collect()
    assert all(r["width"] == 8 and r["height"] == 8 for r in out)


def test_streaming_exact_dedup(spark):
    """File-source streaming dedup: duplicated pages collapse to one row per
    fingerprint; the batch normalize chain runs inside the stream."""
    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )
    from gpu_entity_resolver_spark.streaming.incremental import (
        streaming_exact_dedup,
    )

    with tempfile.TemporaryDirectory(prefix="stream_") as d:
        src = os.path.join(d, "in")
        out = os.path.join(d, "out")
        ck = os.path.join(d, "ck")
        docs = (
            generate_documents(spark, "/root/testdata/sf0.001", max_entities=40)
            .select(*INPUT_COLUMNS)
            .localCheckpoint(eager=True)
        )
        # duplicate every page under a second url to force fingerprint dups
        dup = docs.withColumn("url", F.concat(F.col("url"), F.lit("?dup=1")))
        docs.unionByName(dup).write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = (
            streaming_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.read.parquet(out)
        n_fp = got.select("fingerprint").distinct().count()
        assert got.count() == n_fp  # exactly one row per fingerprint
        assert n_fp > 0


def test_incremental_assign_sink(spark):
    from gpu_entity_resolver_spark.streaming.incremental import (
        incremental_assign_sink,
    )

    with tempfile.TemporaryDirectory(prefix="assign_") as d:
        src = os.path.join(d, "in")
        out = os.path.join(d, "out")
        ck = os.path.join(d, "ck")
        canon = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog today")],
            "cluster long, canonical_text string",
        )
        rows = [
            (
                "http://a.example.com/1",
                None,
                b"<html><body><p>the quick brown fox jumps over the lazy dog today</p></body></html>",
                None,
                "en",
            ),
            (
                "http://a.example.com/2",
                None,
                b"<html><body><p>zebra unrelated content entirely qq</p></body></html>",
                None,
                "en",
            ),
        ]
        spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        ).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = incremental_assign_sink(spark, stream, canon, out, ck)
        q.awaitTermination(300)
        got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert len(got) == 2
        by_new = {r["is_new_entity"] for r in got.values()}
        assert by_new == {True, False}
        matched = [r for r in got.values() if not r["is_new_entity"]][0]
        assert matched["cluster"] == 100


_DOC_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _assign_inputs(spark, sf_dir, d, sizes):
    """Canonical table (first page of each of 30 webgen entities) and one
    parquet file per size in ``d/src`` holding that many later pages,
    oldest first. Returns (canon, src)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import Window

    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )
    from gpu_entity_resolver_spark.streaming.incremental import normalize_stream

    docs = (
        generate_documents(spark, sf_dir, max_entities=30)
        .withColumn(
            "_r",
            F.row_number().over(Window.partitionBy("entity_id").orderBy("doc_id")),
        )
        .localCheckpoint(eager=True)
    )
    canon = normalize_stream(docs.where("_r = 1")).select(
        F.col("doc_id").alias("cluster"), F.col("norm_text").alias("canonical_text")
    )
    rest = docs.where("_r > 1").orderBy("doc_id").select(*INPUT_COLUMNS).toPandas()
    assert len(rest) >= sum(sizes)
    arrow_schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    src = os.path.join(d, "src")
    os.makedirs(src)
    off = 0
    for i, n in enumerate(sizes):
        path = os.path.join(src, f"part-{i}.parquet")
        pq.write_table(
            pa.Table.from_pandas(
                rest.iloc[off : off + n], schema=arrow_schema, preserve_index=False
            ),
            path,
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
        off += n
    return canon, src


def test_assign_sink_reads_each_row_once(spark, sf_dir):
    """Each micro-batch reads its file's rows once (numInputRows equals the
    file's row count, not a multiple of it), and no batch leaves its cache
    behind."""
    from gpu_entity_resolver_spark.streaming.incremental import (
        incremental_assign_sink,
    )

    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    sizes = [5, 7, 9]
    with tempfile.TemporaryDirectory(prefix="assign_") as d:
        canon, src = _assign_inputs(spark, sf_dir, d, sizes)
        stream = (
            spark.readStream.schema(_DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        assert cache.isEmpty()
        before = jsc.getPersistentRDDs().size()
        q = incremental_assign_sink(
            spark, stream, canon, os.path.join(d, "out"), os.path.join(d, "ck")
        )
        q.awaitTermination(300)
        assert q.exception() is None
        after = jsc.getPersistentRDDs().size()
        written = {
            r["batch_id"]: r["count"]
            for r in spark.read.parquet(os.path.join(d, "out"))
            .groupBy("batch_id")
            .count()
            .collect()
        }
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert [p["numInputRows"] for p in progress] == sizes
    assert {p["batchId"]: p["numInputRows"] for p in progress} == written
    # Every batch released its cache (a cached frame stays registered
    # until it is unpersisted).
    assert cache.isEmpty()
    # What stays persisted is the index's two lazy checkpoints and at most
    # one RDD per batch: the lazy checkpoint of its TF-IDF vector table
    # (pair_cosine_vecs), which the context cleaner releases once it is
    # unreachable. A retained batch cache would add one more per batch.
    assert after - before <= 2 + len(sizes)


def test_assign_sink_empty_batch(spark, sf_dir):
    """A micro-batch over a zero-row file ends cleanly and writes nothing."""
    from gpu_entity_resolver_spark.streaming.incremental import (
        incremental_assign_sink,
    )

    with tempfile.TemporaryDirectory(prefix="assign_") as d:
        canon, src = _assign_inputs(spark, sf_dir, d, [0])
        out = os.path.join(d, "out")
        stream = spark.readStream.schema(_DOC_SCHEMA).parquet(src)
        q = incremental_assign_sink(spark, stream, canon, out, os.path.join(d, "ck"))
        q.awaitTermination(300)
        assert q.exception() is None
        assert [p["numInputRows"] for p in q.recentProgress] == [0]
        assert not os.path.exists(out)


def test_assign_sink_rejects_threshold_below_bound(spark):
    """A threshold below the scorer's bound raises at call time, before
    any query starts."""
    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.streaming.incremental import (
        incremental_assign_sink,
    )

    cfg = ResolverConfig()
    cfg.scoring.edge_threshold = 0.40
    canon = spark.createDataFrame([(7, "acme")], "cluster long, canonical_text string")
    with tempfile.TemporaryDirectory(prefix="assign_") as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        stream = spark.readStream.schema(_DOC_SCHEMA).parquet(src)
        with pytest.raises(ValueError, match="edge_threshold"):
            incremental_assign_sink(
                spark, stream, canon, os.path.join(d, "out"), os.path.join(d, "ck"), cfg
            )
    assert spark.streams.active == []
