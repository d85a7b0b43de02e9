"""Realtime ingest + buffer-union search (SURVEY.md §2.9).

Reference behavior being reproduced:

- writes become searchable immediately via a brute-force memory buffer
  before the ANN index covers them (``enable_realtime``,
  vector_manager.cc:941-1012); every search queries main ∪ buffer and
  merges by score, deduping docids (vector_manager.cc:1096-1145);
- a background loop retrains/merges the index every
  ``refresh_interval`` ms (engine.cc:1084-1138);
- rebuild/forcemerge folds the buffer into the main index
  (engine.cc:1013-1084).

Spark-first mapping:

- ingest is Structured Streaming ``foreachBatch``: each micro-batch
  appends to a *buffer* table (cheap blind append — no merge cost on
  the hot path);
- search = ``main ∪ buffer`` **before** top-k: the buffer rows are
  scanned exactly (FLAT) while main can use the ANN index, then one
  TakeOrderedAndProject merges — the same union-then-merge the
  reference does per query;
- ``compact()`` = the refresh/rebuild analog: LWW-merge buffer into
  main, clear buffer, optionally refit the ANN index. The trigger
  interval plays the role of ``refresh_interval``.

The buffer stays small (one compaction interval of writes), so the
union adds one narrow scan per query — at 100 TB the main side is
cluster-pruned parquet and the buffer is a few recent files.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from vearch_spark.operators import topk
from vearch_spark.schema import ID_FIELD, Metric


class RealtimeBuffer:
    """Micro-batch buffer with LWW union-view semantics.

    Thread model: ``append_batch`` runs on the stream-execution thread
    (foreachBatch) while ``search``/``compact`` run on the caller's —
    every read-modify-write of ``_buffer`` holds ``_lock``, and
    ``compact`` swaps the buffer out atomically so a batch landing
    mid-compaction goes to the NEXT buffer instead of being dropped."""

    def __init__(self, main: DataFrame, id_col: str = ID_FIELD):
        self.main = main
        self.id_col = id_col
        self._buffer: DataFrame | None = None
        self._batch_no = 0
        self._lock = threading.Lock()
        self._pinned: list[DataFrame] = []  # persisted batch handles
        self._main_pin: DataFrame | None = None  # compacted-main handle

    def append_batch(self, batch: DataFrame) -> None:
        """The ``foreachBatch`` sink body: blind append + batch stamp.

        The batch is MATERIALIZED (persist + count) before it joins the
        buffer: foreachBatch hands over a lazy plan rooted at the
        source offsets, and re-executing it on a later search would
        re-read the source — which fails or silently loses rows once a
        non-replayable source (expired Kafka retention) ages out.
        ``_mono`` freezes the intra-batch arrival order at
        materialization so same-id writes within one micro-batch have a
        deterministic last-occurrence winner (the Space._prepare_batch
        rule)."""
        stamped = batch.withColumn(
            "_mono", F.monotonically_increasing_id()
        ).persist()
        stamped.count()
        with self._lock:
            stamped = stamped.withColumn("_batch", F.lit(self._batch_no))
            self._batch_no += 1
            self._pinned.append(stamped)
            self._buffer = (
                stamped
                if self._buffer is None
                else self._buffer.unionByName(stamped)
            )

    @property
    def buffer(self) -> DataFrame | None:
        return self._buffer

    def unified(self) -> DataFrame:
        """main ∪ buffer with buffer rows winning on id collision and
        later batches winning inside the buffer (LWW, dedup by docid —
        vector_manager.cc:1096-1145's merge-dedup)."""
        with self._lock:
            buf = self._buffer
        return self._merged_view(buf)

    def _merged_view(self, buf: DataFrame | None) -> DataFrame:
        latest = self._latest_rows_of(buf)
        if latest is None:
            return self.main
        survivors = self.main.join(
            latest.select(self.id_col), on=self.id_col, how="left_anti"
        )
        return survivors.unionByName(latest.select(*self.main.columns))

    def search(
        self,
        vector_col: str,
        query: Sequence[float],
        limit: int = 50,
        metric: str | Metric = Metric.L2,
        flt: Column | None = None,
        **kw,
    ) -> DataFrame:
        """Search over main ∪ buffer before top-k — new docs are
        visible to queries immediately (writer.go:42 semantics)."""
        return topk.search(
            self.unified(),
            vector_col=vector_col,
            query=list(query),
            limit=limit,
            metric=metric,
            flt=flt,
            id_col=self.id_col,
            **kw,
        )

    def _latest_rows_of(self, buf: DataFrame | None) -> DataFrame | None:
        if buf is None:
            return None
        # later batch wins; within a batch the later occurrence wins
        # (same tie-break as Space._prepare_batch — _batch alone left
        # intra-batch duplicates to shuffle order)
        w = Window.partitionBy(self.id_col).orderBy(
            F.col("_batch").desc(), F.col("_mono").desc()
        )
        return (
            buf.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_batch", "_mono")
        )

    def compact(self, index=None) -> DataFrame:
        """Fold the buffer into main (refresh/rebuild analog); returns
        the new main. At scale this is the Delta MERGE + index refit
        job run on the trigger interval.

        With ``index`` (a trained index over main), the buffered rows
        are folded into the index INCREMENTALLY through its ``replace``
        — updated ids tombstoned, latest versions assigned with the
        trained quantizers — the background Indexing() loop consuming
        realtime vectors without a retrain (engine.cc:1084-1138).

        The buffer is swapped out under the lock FIRST, so batches the
        stream appends mid-compaction land in the next buffer instead
        of vanishing; main and the index both fold the same snapshot."""
        with self._lock:
            buf, pins = self._buffer, self._pinned
            self._buffer, self._pinned = None, []
        latest = self._latest_rows_of(buf)
        merged = self._merged_view(buf)
        if latest is not None:
            # materialize the new main off the still-pinned batch
            # caches before releasing them
            merged = merged.persist()
            merged.count()
        if index is not None and latest is not None:
            ids = [r[0] for r in latest.select(self.id_col).collect()]
            # stale versions of updated docs out, latest versions in
            index.replace(ids, latest.select(*self.main.columns))
        if latest is not None:
            for p in pins:
                p.unpersist()
            if self._main_pin is not None:
                self._main_pin.unpersist()
            self._main_pin = merged
        self.main = merged
        return merged


def resolve_trigger_seconds(
    trigger_seconds: float | None, space=None
) -> float:
    """The refresh cadence for a stream attach: an explicit value wins;
    otherwise the space's ``refresh_interval`` config (the knob
    ``POST /config`` updates, space.go:71 default 1000 ms). A
    non-positive configured interval is the reference's "background
    refresh disabled" (-1, test_module_config.py) — attaching a
    continuous refresh to such a space is a contract violation, not a
    silent default."""
    if trigger_seconds is not None:
        return float(trigger_seconds)
    if space is not None:
        iv = space.refresh_interval
        if iv <= 0:
            from vearch_spark.errors import SearchError

            raise SearchError(
                f"space {space.schema.name!r} has refresh_interval={iv}: "
                "background refresh is disabled for this space"
            )
        return iv / 1000.0
    return 1.0


def stream_ingest(
    stream_df: DataFrame,
    buffer: RealtimeBuffer,
    checkpoint_dir: str,
    trigger_seconds: float | None = None,
    space=None,
):
    """Wire a streaming DataFrame into a RealtimeBuffer via
    foreachBatch. Returns the StreamingQuery (caller manages stop()).

    The processingTime trigger is the ``refresh_interval`` analog:
    pass ``space`` to take the cadence from the space's live config
    (see :func:`resolve_trigger_seconds`)."""
    seconds = resolve_trigger_seconds(trigger_seconds, space)

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        buffer.append_batch(batch_df)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{seconds} seconds")
        .start()
    )
