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

Spark-first mapping: the buffer is an index's delta
(:class:`~vearch_spark.operators.topk.DeltaIndex`), the one write path
every index shares.

- ingest is Structured Streaming ``foreachBatch``; each micro-batch is
  an ``add`` into the index's delta (:func:`stream_ingest`). A stream
  that feeds a trained IVF, HNSW or DiskANN index writes into that
  index's own delta; :class:`RealtimeBuffer` is the FLAT member, a
  delta over an unindexed table;
- search = ``(main − tombstones) ∪ delta`` **before** top-k: the delta
  rows are scanned exactly while main can use the ANN index, then one
  TakeOrderedAndProject merges — the same union-then-merge the
  reference does per query;
- ``fold()`` = the refresh/rebuild analog, also run once the pending
  ids pass the index's fold bound. The trigger interval plays the role
  of ``refresh_interval``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame

from vearch_spark.operators import topk
from vearch_spark.operators.topk import DeltaIndex
from vearch_spark.schema import ID_FIELD, Metric


class RealtimeBuffer(DeltaIndex):
    """The FLAT index: a :class:`DeltaIndex` whose base is the caller's
    ``main`` table, with rows held as written (identity encode and
    layout). A written id replaces its main row and any earlier write
    (last write wins); a fold never releases ``main``."""

    def __init__(self, main: DataFrame, id_col: str = ID_FIELD):
        super().__init__(id_col, main)
        self._borrowed = main

    def search(
        self,
        vector_col: str,
        query: Sequence[float],
        limit: int = 50,
        metric: str | Metric = Metric.L2,
        flt: Column | None = None,
        **kw,
    ) -> DataFrame:
        """Exact search over the live rows — new docs are visible to
        queries immediately (writer.go:42 semantics)."""
        return topk.search(
            self.live,
            vector_col=vector_col,
            query=list(query),
            limit=limit,
            metric=metric,
            flt=flt,
            id_col=self.id_col,
            **kw,
        )


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
    index: DeltaIndex,
    checkpoint_dir: str,
    trigger_seconds: float | None = None,
    space=None,
):
    """Wire a streaming DataFrame into ``index`` (any
    :class:`DeltaIndex`: a :class:`RealtimeBuffer` or a trained IVF,
    HNSW or DiskANN index) via foreachBatch: each micro-batch is one
    ``index.add``. Returns the StreamingQuery (caller manages stop()).

    The delta is held on the driver: ``add`` collects each micro-batch
    once (``toArrow``) before the index's fold bound applies, so the
    source's ``maxOffsetsPerTrigger``/``maxFilesPerTrigger`` bounds
    the driver memory one trigger needs. Collecting also freezes the
    batch: a later search never re-reads the source.

    The processingTime trigger is the ``refresh_interval`` analog:
    pass ``space`` to take the cadence from the space's live config
    (see :func:`resolve_trigger_seconds`)."""
    seconds = resolve_trigger_seconds(trigger_seconds, space)

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        index.add(batch_df)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{seconds} seconds")
        .start()
    )
