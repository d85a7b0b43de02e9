"""Realtime buffer-union semantics (SURVEY.md §2.9)."""

import pytest
from pyspark.sql import functions as F

from vearch_spark.streaming.realtime import RealtimeBuffer


@pytest.fixture()
def main_df(spark):
    return spark.createDataFrame(
        [(str(i), [float(i), 0.0]) for i in range(10)],
        "_id string, vec array<float>",
    )


def test_buffer_visibility(spark, main_df):
    buf = RealtimeBuffer(main_df)
    # before append: doc 100 invisible
    got = {r._id for r in buf.search("vec", [100.0, 0.0], limit=1).collect()}
    assert got == {"9"}
    # append new doc -> immediately searchable (brute force union)
    batch = spark.createDataFrame([("100", [100.0, 0.0])], "_id string, vec array<float>")
    buf.append_batch(batch)
    got = {r._id for r in buf.search("vec", [100.0, 0.0], limit=1).collect()}
    assert got == {"100"}


def test_buffer_lww_overwrites_main(spark, main_df):
    buf = RealtimeBuffer(main_df)
    batch = spark.createDataFrame([("5", [99.0, 0.0])], "_id string, vec array<float>")
    buf.append_batch(batch)
    uni = buf.unified()
    assert uni.count() == 10  # still 10 docs — id 5 replaced not duplicated
    row = uni.where("_id = '5'").collect()[0]
    assert row.vec == [99.0, 0.0]


def test_later_batch_wins_within_buffer(spark, main_df):
    buf = RealtimeBuffer(main_df)
    buf.append_batch(spark.createDataFrame([("7", [50.0, 0.0])], "_id string, vec array<float>"))
    buf.append_batch(spark.createDataFrame([("7", [60.0, 0.0])], "_id string, vec array<float>"))
    row = buf.unified().where("_id = '7'").collect()[0]
    assert row.vec == [60.0, 0.0]


def test_compact_folds_buffer(spark, main_df):
    buf = RealtimeBuffer(main_df)
    buf.append_batch(spark.createDataFrame([("11", [11.0, 0.0])], "_id string, vec array<float>"))
    merged = buf.compact()
    assert merged.count() == 11
    assert buf.buffer is None
    # post-compact searches hit main only
    got = {r._id for r in buf.search("vec", [11.0, 0.0], limit=1).collect()}
    assert got == {"11"}


def test_structured_streaming_ingest(spark, main_df, tmp_path):
    """Drive a real Structured Streaming query through the buffer."""
    import time

    buf = RealtimeBuffer(main_df)
    from vearch_spark.streaming.realtime import stream_ingest

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .select(
            (F.col("value") + 1000).cast("string").alias("_id"),
            F.array((F.col("value") + 1000).cast("float"), F.lit(0.0).cast("float")).alias("vec"),
        )
    )
    q = stream_ingest(stream, buf, str(tmp_path / "ckpt"), trigger_seconds=1)
    try:
        deadline = time.time() + 30
        while time.time() < deadline and (buf.buffer is None or buf.buffer.count() == 0):
            time.sleep(1)
        assert buf.buffer is not None and buf.buffer.count() > 0
        # streamed docs are searchable pre-compaction
        hit = buf.search("vec", [1000.0, 0.0], limit=1).collect()[0]
        assert hit._id == "1000"
    finally:
        q.stop()


def test_compact_folds_buffer_into_index(spark, main_df):
    """compact(index=...): buffered inserts AND updates land in the
    trained IVF index incrementally (one delta write: stale versions
    tombstoned, latest versions encoded — the Indexing() loop analog),
    with no retrain: centroids unchanged,
    full-probe index search == exact search over the merged table."""
    import numpy as np

    from vearch_spark.operators.ivf import IVFFlatIndex
    from vearch_spark.schema import Metric

    buf = RealtimeBuffer(main_df)
    index = IVFFlatIndex("vec", Metric.L2, ncentroids=4, nprobe=4, id_col="_id")
    index.fit(main_df)
    cents = index.centroids.copy()
    try:
        buf.append_batch(spark.createDataFrame(
            [("100", [100.0, 0.0]), ("3", [55.0, 0.0])],  # insert + update
            "_id string, vec array<float>",
        ))
        writes = []
        write = index._write
        index._write = lambda ids, df: (writes.append(ids), write(ids, df))[1]
        merged = buf.compact(index=index)
        assert len(writes) == 1  # one delta write: replace, not remove + add
        assert sorted(index._dead) == ["100", "3"] and index._rows.num_rows == 2
        assert np.array_equal(index.centroids, cents)  # no retrain
        assert buf.buffer is None

        got = [(r._id, r._score) for r in index.search(None, [60.0, 0.0], limit=3).collect()]
        from vearch_spark.operators import topk
        exact = [(r._id, r._score) for r in
                 topk.search(merged, "vec", [60.0, 0.0], limit=3, id_col="_id").collect()]
        assert got == exact  # update visible, stale version gone, insert present
    finally:
        index.unpersist()


def test_streaming_ingest_into_bucketed_space(spark, tmp_path):
    """Durable streaming ingest: micro-batches land in a path-backed
    (bucketed, versioned) Space through the same upsert verb — each
    foreachBatch commit rewrites only touched buckets and is
    immediately query-visible (the reference's raft-applied-then-
    searchable write path, writer.go:42)."""
    import time

    from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema
    from vearch_spark.space import Space

    schema = SpaceSchema(
        name="stream_space",
        fields=[FieldSpec("val", FieldType.LONG, index=IndexSpec("val", "SCALAR"))],
    )
    space = Space(spark, schema, path=str(tmp_path / "stream_space"))

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .select(F.col("value").cast("string").alias("_id"), F.col("value").alias("val"))
    )
    q = (
        stream.writeStream.foreachBatch(lambda bdf, _bid: space.upsert(bdf) if bdf.count() else None)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and space.count() == 0:
            time.sleep(1)
        assert space.count() > 0
        # committed rows are queryable through the verb surface
        rows = space.query(limit=5).collect()
        assert rows and all(r.val is not None for r in rows)
    finally:
        q.stop()
    # drain: stop() can overlap an in-flight foreachBatch commit; only
    # after termination do the live handle and a reopen agree
    try:
        q.awaitTermination(30)
    except Exception:
        pass
    # durable across a reopen: a fresh Space handle reads the manifest
    reopened = Space(spark, schema, path=str(tmp_path / "stream_space"))
    assert reopened.count() == space.count()


def test_compact_folds_buffer_into_hnsw(spark, main_df):
    """compact(index=...) is index-agnostic: the graph index consumes
    the same remove-stale + add-latest protocol — buffered inserts and
    updates land in the HNSW graph with only touched shards regrown."""
    from vearch_spark.operators import topk
    from vearch_spark.operators.hnsw import HNSWIndex
    from vearch_spark.schema import Metric

    buf = RealtimeBuffer(main_df)
    index = HNSWIndex("vec", Metric.L2, nlinks=4, efConstruction=32,
                      efSearch=64, nshards=2, id_col="_id")
    index.fit(main_df)
    try:
        buf.append_batch(spark.createDataFrame(
            [("100", [100.0, 0.0]), ("3", [55.0, 0.0])],  # insert + update
            "_id string, vec array<float>",
        ))
        merged = buf.compact(index=index)
        got = [(r._id, r._score) for r in index.search(None, [60.0, 0.0], limit=3).collect()]
        exact = [(r._id, r._score) for r in
                 topk.search(merged, "vec", [60.0, 0.0], limit=3, id_col="_id").collect()]
        assert got == exact  # update visible, stale version gone, insert present
    finally:
        index.unpersist()


def test_stream_trigger_follows_space_config(spark):
    """stream_ingest's cadence comes from the space's live config when
    a Space is passed; refresh_interval <= 0 (the reference's -1 =
    refresh disabled) refuses a continuous attach instead of silently
    defaulting."""
    from vearch_spark.errors import SearchError
    from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema
    from vearch_spark.space import Space
    from vearch_spark.streaming.realtime import resolve_trigger_seconds

    schema = SpaceSchema(
        name="trig",
        fields=[FieldSpec("field_int", FieldType.INT,
                          index=IndexSpec("field_int", "SCALAR"))],
    )
    sp = Space(spark, schema, refresh_interval=2000)
    assert resolve_trigger_seconds(None, sp) == 2.0
    assert resolve_trigger_seconds(0.5, sp) == 0.5  # explicit wins
    assert resolve_trigger_seconds(None, None) == 1.0
    sp.update_config({"refresh_interval": -1})
    with pytest.raises(SearchError):
        resolve_trigger_seconds(None, sp)


def test_intra_batch_duplicates_last_occurrence_wins(spark):
    """Two writes to one _id inside a single micro-batch must pick the
    LAST occurrence deterministically (the Space._prepare_batch rule) —
    ordering by batch stamp alone left the winner to shuffle order."""
    main = spark.createDataFrame([("1", [0.0, 0.0])], "_id string, vec array<float>")
    buf = RealtimeBuffer(main)
    batch = spark.createDataFrame(
        [("7", [1.0, 0.0]), ("7", [2.0, 0.0]), ("7", [3.0, 0.0])],
        "_id string, vec array<float>",
    ).coalesce(1)
    buf.append_batch(batch)
    rows = {r._id: r.vec for r in buf.unified().collect()}
    assert rows["7"] == [3.0, 0.0]
    merged = buf.compact()
    assert {r._id: r.vec for r in merged.collect()}["7"] == [3.0, 0.0]


def test_appended_batches_are_materialized(spark):
    """foreachBatch hands over a lazy plan rooted at source offsets;
    the buffer must persist it at append so later searches never
    re-execute the source read."""
    main = spark.createDataFrame([("1", [0.0, 0.0])], "_id string, vec array<float>")
    buf = RealtimeBuffer(main)
    batch = spark.createDataFrame([("2", [1.0, 0.0])], "_id string, vec array<float>")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    buf.append_batch(batch)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > before
    buf.compact()  # compact releases the batch pins
