"""Realtime buffer-union semantics (SURVEY.md §2.9): the FLAT
``RealtimeBuffer`` and the trained indexes share one delta."""

import shutil
import threading
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from vearch_spark.operators import topk
from vearch_spark.operators.hnsw import HNSWIndex
from vearch_spark.operators.ivf import IVFFlatIndex
from vearch_spark.schema import Metric
from vearch_spark.streaming.realtime import RealtimeBuffer

SCHEMA = "_id string, vec array<float>"
WAIT_S = 60  # every wait on another thread is bounded


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _main(spark, n):
    return _rows(spark, [(str(i), [float(i), 0.0]) for i in range(n)])


@pytest.fixture()
def main_df(spark):
    return _main(spark, 10)


def _index(kind, main):
    if kind == "flat":
        return RealtimeBuffer(main)
    if kind == "ivf":
        return IVFFlatIndex("vec", Metric.L2, ncentroids=4, nprobe=4, id_col="_id").fit(main)
    return HNSWIndex("vec", Metric.L2, nlinks=4, efConstruction=32,
                     efSearch=64, nshards=2, id_col="_id").fit(main)


def _hits(index, query, limit):
    if isinstance(index, RealtimeBuffer):
        out = index.search("vec", query, limit=limit)
    else:  # full probe (IVF) or a beam wider than a shard (HNSW)
        out = index.search(None, query, limit=limit)
    return [(r._id, r._score) for r in out.collect()]


def _exact(spark, docs, query, limit):
    rel = _rows(spark, sorted(docs.items()))
    out = topk.search(rel, "vec", query, limit=limit, id_col="_id")
    return [(r._id, r._score) for r in out.collect()]


def test_buffer_visibility(spark, main_df):
    buf = RealtimeBuffer(main_df)
    # before the write: doc 100 invisible
    got = {r._id for r in buf.search("vec", [100.0, 0.0], limit=1).collect()}
    assert got == {"9"}
    # written doc -> immediately searchable (brute-force union)
    buf.add(_rows(spark, [("100", [100.0, 0.0])]))
    got = {r._id for r in buf.search("vec", [100.0, 0.0], limit=1).collect()}
    assert got == {"100"}


def test_buffer_lww_overwrites_main(spark, main_df):
    buf = RealtimeBuffer(main_df)
    buf.add(_rows(spark, [("5", [99.0, 0.0])]))
    live = buf.live
    assert live.count() == 10  # still 10 docs — id 5 replaced not duplicated
    row = live.where("_id = '5'").collect()[0]
    assert row.vec == [99.0, 0.0]


def test_later_batch_wins_within_buffer(spark, main_df):
    buf = RealtimeBuffer(main_df)
    buf.add(_rows(spark, [("7", [50.0, 0.0])]))
    buf.add(_rows(spark, [("7", [60.0, 0.0])]))
    row = buf.live.where("_id = '7'").collect()[0]
    assert row.vec == [60.0, 0.0]


def test_compact_folds_buffer(spark, main_df):
    """fold() is the compaction: the delta joins the base, and the
    caller's table is left as it was."""
    buf = RealtimeBuffer(main_df)
    buf.add(_rows(spark, [("11", [11.0, 0.0])]))
    buf.fold()
    assert buf.pending == 0 and buf._state.rows is None
    assert buf._base.count() == 11 and main_df.count() == 10
    # post-fold searches hit the base only
    got = {r._id for r in buf.search("vec", [11.0, 0.0], limit=1).collect()}
    assert got == {"11"}


def test_structured_streaming_ingest(spark, main_df, tmp_path):
    """Drive a real Structured Streaming query through the buffer."""
    from vearch_spark.streaming.realtime import stream_ingest

    buf = RealtimeBuffer(main_df)
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
        while time.time() < deadline and buf.live.count() == 10:
            time.sleep(1)
        assert buf.live.count() > 10
        # streamed docs are searchable
        hit = buf.search("vec", [1000.0, 0.0], limit=1).collect()[0]
        assert hit._id == "1000"
    finally:
        q.stop()


@pytest.mark.parametrize("kind", ["ivf", "hnsw"])
def test_batches_added_to_trained_index(spark, kind):
    """A stream feeding a trained index writes into its own delta: one
    delta write per batch, no retrain (IVF centroids unchanged), and
    inserts and updates visible exactly, before and after the fold."""
    main = _main(spark, 40)
    docs = {str(i): [float(i), 0.0] for i in range(40)}
    index = _index(kind, main)
    cents = None if kind == "hnsw" else index.centroids.copy()
    try:
        writes = []
        write = index._write
        index._write = lambda ids, df: (writes.append(ids), write(ids, df))[1]
        for batch in (
            [("100", [100.0, 0.0]), ("3", [55.0, 0.0])],  # insert + update
            [("100", [58.0, 0.0]), ("101", [61.0, 0.0])],  # update a streamed doc
        ):
            index.add(_rows(spark, batch))
            docs.update(batch)
        assert len(writes) == 2
        assert sorted(index._state.dead) == ["100", "101", "3"]
        assert index._state.rows.num_rows == 3
        want = _exact(spark, docs, [60.0, 0.0], 5)
        assert _hits(index, [60.0, 0.0], 5) == want
        index.fold()
        assert index.pending == 0
        assert _hits(index, [60.0, 0.0], 5) == want
        if cents is not None:
            assert np.array_equal(index.centroids, cents)  # no retrain
    finally:
        index.unpersist()


def test_streaming_ingest_into_bucketed_space(spark, tmp_path):
    """Durable streaming ingest: micro-batches land in a path-backed
    (bucketed, versioned) Space through the same upsert verb — each
    foreachBatch commit rewrites only touched buckets and is
    immediately query-visible (the reference's raft-applied-then-
    searchable write path, writer.go:42)."""
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


@pytest.mark.parametrize("kind", ["flat", "ivf", "hnsw"])
def test_intra_batch_duplicates_last_occurrence_wins(spark, kind):
    """Three writes to one _id inside a single batch keep the LAST
    occurrence only (the Space._prepare_batch rule), before and after
    the fold; keeping every version returned the id three times and
    made the HNSW fold fail on duplicate ids."""
    index = _index(kind, _main(spark, 40))
    try:
        index.add(_rows(spark, [("7", [1.0, 0.0]), ("7", [2.0, 0.0]), ("7", [3.0, 0.0])])
                  .coalesce(1))
        for _ in range(2):
            hits = _hits(index, [9.0, 0.0], 40)
            ids = [i for i, _ in hits]
            assert len(ids) == len(set(ids)) == 40
            assert dict(hits)["7"] == 36.0  # (9 - 3)², the last occurrence
            index.fold()
    finally:
        index.unpersist()


def test_appended_batches_are_materialized(spark, tmp_path):
    """foreachBatch hands over a lazy plan rooted at the source; a
    write collects it, so a search never re-reads the source — here,
    files deleted after the write."""
    buf = RealtimeBuffer(_main(spark, 1))
    src = str(tmp_path / "batch")
    _rows(spark, [("2", [1.0, 0.0])]).write.parquet(src)
    buf.add(spark.read.parquet(src))
    shutil.rmtree(src)
    got = [r._id for r in buf.search("vec", [1.0, 0.0], limit=1).collect()]
    assert got == ["2"]


def test_concurrent_writes_searches_and_folds(spark):
    """One writer thread adds batches (new ids and updates of main ids)
    while this thread reads and folds: no read misses a finished write
    or shows an id twice, and every write survives."""
    buf = RealtimeBuffer(_main(spark, 40))
    written, errors = [], []

    def writer():
        try:
            for i in range(12):
                batch = [(f"w{i}", [100.0 + i, 0.0]), (str(i), [-1.0 - i, 0.0])]
                buf.add(_rows(spark, batch))
                written.append(f"w{i}")
        except Exception as e:  # surfaced below
            errors.append(e)

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    deadline = time.time() + 4 * WAIT_S
    folds = 0
    while t.is_alive() and time.time() < deadline:
        done = list(written)
        ids = [r._id for r in buf.live.select("_id").collect()]
        assert len(ids) == len(set(ids))
        assert set(done) <= set(ids)
        buf.fold()
        folds += 1
    t.join(WAIT_S)
    assert not t.is_alive() and not errors and folds
    live = {r._id: r.vec for r in buf.live.collect()}
    assert len(live) == 40 + 12 and set(written) <= set(live)
    assert all(live[str(i)] == [-1.0 - i, 0.0] for i in range(12))


def test_search_during_fold_sees_pending_writes(spark, main_df):
    """A fold publishes its new base only once it is materialized: a
    search issued while the fold is held open still sees the pending
    writes, and a write arriving meanwhile lands after the fold."""
    buf = RealtimeBuffer(main_df)
    buf.add(_rows(spark, [("100", [100.0, 0.0])]))
    reached, release = threading.Event(), threading.Event()
    fold_base = buf._fold_base

    def held(drop, add):
        out = fold_base(drop, add)
        reached.set()
        release.wait(WAIT_S)
        return out

    buf._fold_base = held
    folding = threading.Thread(target=buf.fold, daemon=True)
    late = threading.Thread(
        target=lambda: buf.add(_rows(spark, [("200", [200.0, 0.0])])), daemon=True
    )
    folding.start()
    try:
        assert reached.wait(WAIT_S)
        got = [r._id for r in buf.search("vec", [100.0, 0.0], limit=1).collect()]
        assert got == ["100"]
        late.start()
    finally:
        release.set()
        folding.join(WAIT_S)
    late.join(WAIT_S)
    assert not folding.is_alive() and not late.is_alive()
    assert buf._base.where("_id = '100'").count() == 1
    assert buf.pending == 1  # the late write, pending on the new base
    got = [r._id for r in buf.search("vec", [200.0, 0.0], limit=1).collect()]
    assert got == ["200"]


@pytest.mark.parametrize("kind", ["ivf", "hnsw"])
def test_write_during_refit_is_reapplied(spark, kind):
    """A refit trains off to the side and publishes under the write
    lock: a write made while ``fit`` is held open is encoded against the
    old, whole encoders (never half-trained ones), and the publish
    re-applies it to the new base, encoded against the new ones."""
    index = _index(kind, _main(spark, 40))
    hook = "_train_encoders" if kind == "ivf" else "_seed"
    cents = None if kind == "hnsw" else index.centroids.copy()
    refit = {str(i): [float(3 * i), 1.0] for i in range(40)}
    reached, release = threading.Event(), threading.Event()
    inner = getattr(index, hook)

    def held(*a):
        out = inner(*a)
        reached.set()
        release.wait(WAIT_S)
        return out

    setattr(index, hook, held)
    fitting = threading.Thread(
        target=lambda: index.fit(_rows(spark, sorted(refit.items()))), daemon=True
    )
    fitting.start()
    try:
        assert reached.wait(WAIT_S)
        if cents is not None:
            assert np.array_equal(index.centroids, cents)  # old, whole
        index.add(_rows(spark, [("100", [61.0, 1.0])]))
        assert _hits(index, [61.0, 1.0], 1)[0][0] == "100"
    finally:
        release.set()
        fitting.join(WAIT_S)
    assert not fitting.is_alive()
    delattr(index, hook)
    try:
        assert index.pending == 1 and sorted(index._state.dead) == ["100"]
        if cents is not None:
            assert not np.array_equal(index.centroids, cents)  # retrained
            cell = int(((index.centroids - [61.0, 1.0]) ** 2).sum(axis=1).argmin())
            assert index._state.rows.column("_cluster_id").to_pylist() == [cell]
        refit["100"] = [61.0, 1.0]
        want = _exact(spark, refit, [61.0, 1.0], 5)
        assert _hits(index, [61.0, 1.0], 5) == want
        index.fold()
        assert _hits(index, [61.0, 1.0], 5) == want
    finally:
        index.unpersist()
