"""Exact top-k-by-distance search (the reference's FLAT path).

The reference's search pipeline (Engine::Search engine.cc:248-408 →
VectorManager::Search vector_manager.cc:851-1199) is:

    scalar pre-filter → distance scoring → score-band discard →
    per-partition top-(k+offset) → k-way merge → offset skip → project

Spark-first, that entire pipeline is ONE declarative plan:

    df.where(filter)                       # pre-filter (engine.cc:355-373)
      .withColumn("_score", score_expr)    # JVM distance kernel
      .where(score band)                   # min/max_score (gamma_common_data.h:94-96)
      .orderBy(score).offset(o).limit(k)   # TakeOrderedAndProject

``ORDER BY ... LIMIT k`` plans as ``TakeOrderedAndProject`` — Spark
computes a per-partition top-k and merges on the driver, which is
exactly the reference's per-partition top-k + router k-way merge
(client.go:1497-1576) with no extra shuffle. This holds at any
partition count, so the same plan serves 1000 executors over 100 TB.

Batched multi-query search (one request = q independent queries,
parseVectors doc_query.go:255-338) uses a *broadcast* of the (small)
query set against the (huge) docs table plus a per-query window top-k —
no shuffle of the docs side beyond one hash exchange on query_id, and
the window's rank filter is applied partially before the exchange by
Spark's WindowGroupLimit optimization.

Tie-breaking: the reference's merge order for equal scores depends on
partition arrival (client.go:869-877) — nondeterministic. We define the
documented total order (score, then _id) so results are reproducible
and oracle-checkable (SURVEY.md §7 "what's hard" (a)).
"""

from __future__ import annotations

import copy
import threading
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window, functions as F

from vearch_spark.errors import SearchError
from vearch_spark.filters import compile_filter, isin_sql
from vearch_spark.functions.distance import hamming_distance, score_expr
from vearch_spark.schema import ID_FIELD, Metric, SpaceSchema

DEFAULT_LIMIT = 50  # DefaultSize doc_query.go:43


def _score_order(metric: Metric, score: Column) -> Column:
    # NULLS LAST both ways: a NULL score (null/ragged vector) must
    # never outrank a real hit — bare .asc() is NULLS FIRST in Spark,
    # which would hand rank 1 to unscoreable rows on every L2 search
    return score.asc_nulls_last() if metric.ascending else score.desc_nulls_last()


def _check_page(limit: int, offset: int) -> None:
    if limit <= 0:
        raise SearchError(f"limit must be positive, got {limit}")
    if offset < 0:
        raise SearchError(f"offset must be >= 0, got {offset}")


def _score(
    vector_col: str,
    query: Sequence[float] | str,
    m: Metric,
    l2_sqrt: bool,
    binary: bool,
    normalize: bool = False,
) -> tuple[Metric, Column]:
    """The score column and the metric that orders it. ``query`` is a
    literal vector or the name of a query-vector column. ``binary``
    scores by Hamming distance over packed uint8 codes (the BINARYIVF
    kernel, gamma_index_binary_ivf.cc), which sorts ascending like L2;
    ``normalize`` scores against the unit-normalized query."""
    if binary:
        return Metric.L2, hamming_distance(vector_col, query)
    return m, score_expr(vector_col, query, m, l2_sqrt=l2_sqrt, normalize_query=normalize)


def _top_per_key(
    scored: DataFrame,
    key: str,
    metric: Metric,
    score_col: str,
    id_col: str,
    limit: int,
    offset: int = 0,
) -> DataFrame:
    """The per-key top-k tail of every batched search and join: rank
    each ``key`` group by score in metric order (NULLs last), then
    ``id_col``, and keep ranks ``(offset, offset + limit]``. Spark's
    WindowGroupLimit applies the cut map-side, before the exchange.
    Adds a ``_rank`` column; the caller projects."""
    w = Window.partitionBy(key).orderBy(
        _score_order(metric, F.col(score_col)), F.col(id_col).asc()
    )
    rank = F.col("_rank")
    keep = rank <= offset + limit
    if offset:
        keep = (rank > offset) & keep
    return scored.withColumn("_rank", F.row_number().over(w)).where(keep)


class _State(NamedTuple):
    """One published ``(base, tombstones, delta)``. A write or a fold
    replaces it whole and never mutates it, so a reader that takes it
    once sees no half-applied write."""

    base: DataFrame | None
    dead: dict  # the tombstones, in write order
    rows: object = None  # the delta, a pyarrow Table
    schema: object = None  # the delta's Spark schema


class DeltaIndex:
    """The write path every index shares (FLAT, IVF, HNSW, DiskANN):
    an immutable base, a delta and tombstones, and one fold — the
    reference's realtime buffer, searched beside the trained index
    (vector_manager.cc:941-1012, :1096-1145) and folded into it by
    rebuild/forcemerge (engine.cc:1013-1084).

    - the base: the relation ``fit`` or ``load`` built (for the FLAT
      ``RealtimeBuffer``, the caller's table). No write persists it
      again; only :meth:`fold` replaces it.
    - the delta: the rows written since the last fold, encoded by the
      index (``_encode``: IVF cell ids and codes; FLAT and the graph
      family keep them raw) in one job per write and held on the driver
      as an Arrow table. :meth:`_delta` rebuilds their relation from
      that table, so its plan has no cached parent however many writes
      ran.
    - the tombstones: every id upserted or deleted since the fold. They
      hide base rows at search time (:meth:`_tombstoned`); a delta row
      is never a tombstoned version.

    :meth:`fold` runs in ``save``, on a write whose ids arrive as a
    DataFrame, once the pending ids pass the fold bound, and when a
    forcemerge (``Space.vacuum``) is about to delete a table version
    while the base is not :attr:`rooted`. It builds the new base with
    the family's ``_fold_base`` and cuts its lineage with one
    ``localCheckpoint``, so no base outlives the table files it read.

    Thread model: a stream's writes run on its own thread beside the
    caller's searches and folds. Writes and folds serialize on one
    lock, so a write that arrives during a fold applies to the new base
    and is never lost; readers take the published :class:`_State` once
    and never wait. No UDF closure may capture the index: the lock does
    not pickle. ``fit`` trains off to the side and publishes through
    :meth:`_refit`."""

    #: the fold bound: pending ids past this share of the base rows (the
    #: graph probe's tombstone over-fetch stays one widening step below
    #: it, and an IVF probe scans at most this much dead weight)...
    FOLD_SHARE = 0.2
    #: ...or past this many, whichever is fewer: the ``NOT IN`` text
    #: every search parses and the driver-held delta stay small
    FOLD_MAX = 4096

    #: a base the index did not build (the caller's table), which a fold
    #: must not release
    _borrowed: DataFrame | None = None
    #: while a fit trains: the writes it must re-apply, as
    #: ``(ids, (raw Arrow rows, their schema) or None)``
    _journal: list | None = None
    #: the write path's own attributes, which a fit does not publish
    _WRITE_STATE = frozenset(
        {"_lock", "_state", "_rooted", "_base_rows", "_outgrown", "_delta_rel", "_journal"}
    )

    def __init__(self, id_col: str, base: DataFrame | None = None):
        self.id_col = id_col
        self._lock = threading.RLock()
        self._reset(base)

    def _reset(
        self,
        base: DataFrame | None,
        rows: int | None = None,
        outgrown: bool = False,
        rooted: bool = True,
    ) -> None:
        """Adopt ``base`` (``rows`` rows; None counts them when the bound
        is first checked) with nothing pending."""
        self._state = _State(base, {})
        self._rooted = rooted
        self._base_rows = rows
        self._outgrown = outgrown
        self._delta_rel: tuple | None = None  # (rows, their relation)

    @property
    def _base(self) -> DataFrame | None:
        return self._state.base

    @property
    def pending(self) -> int:
        """Ids written since the last fold (every delta row's id is one)."""
        return len(self._state.dead)

    @property
    def rooted(self) -> bool:
        """False while the base is ``fit``'s cached relation, which
        recomputes from the files ``fit`` read on block loss; a fold
        (its lineage ends in a checkpoint) or a load roots it."""
        return self._rooted

    @property
    def needs_rebuild(self) -> bool:
        """True while anything is pending, or when a shard passed
        2×``shard_max_rows`` at the last fold (the graph family's sized
        envelope; the remedy is a refit, the reference's
        RebuildIndex)."""
        return bool(self._state.dead) or self._outgrown

    @property
    def live(self) -> DataFrame | None:
        """Every live row: ``(base − tombstones) ∪ delta``, the base
        itself when nothing is pending."""
        s = self._state
        if s.base is None:
            return None
        live = s.base
        dead = self._tombstoned(s)
        if dead is not None:
            live = live.where(f"NOT ({dead})")
        delta = self._delta(s)
        return live if delta is None else live.unionByName(delta)

    def _encode(self, df: DataFrame) -> DataFrame:
        """Hook: the rows the delta holds for written rows ``df``."""
        return df

    @staticmethod
    def _layout(live: DataFrame) -> DataFrame:
        """Hook: lay a folded base out as ``fit`` lays it out."""
        return live

    def _fold_base(
        self, drop: DataFrame | None, add: DataFrame | None
    ) -> tuple[DataFrame, int, bool]:
        """The new base, materialized with its lineage cut by one
        ``localCheckpoint`` — the live rows minus the ids in ``drop``,
        plus ``add`` encoded, through ``_layout`` — its row count, and
        whether a shard outgrew its envelope (never, here)."""
        live = self.live
        if drop is not None:
            key = drop.select(F.col(drop.columns[0]).alias(self.id_col)).distinct()
            live = live.join(key, on=self.id_col, how="left_anti")
        if add is not None:
            live = live.unionByName(self._encode(add))
        base = self._layout(live).localCheckpoint(eager=False)
        return base, base.count(), False  # the count materializes the checkpoint

    def _tombstoned(self, s: _State | None = None) -> str | None:
        """SQL text matching the base rows the tombstones hide."""
        dead = (s or self._state).dead
        return isin_sql(self.id_col, list(dead)) if dead else None

    def _delta(self, s: _State | None = None) -> DataFrame | None:
        """The delta's relation, rebuilt from its Arrow table (one JVM
        call, as ``search_batch`` builds its probe set) as one
        partition: a search reads it in one task."""
        s = s or self._state
        if s.rows is None:
            return None
        hit = self._delta_rel
        if hit is None or hit[0] is not s.rows:
            rel = s.base.sparkSession.createDataFrame(s.rows, s.schema)
            hit = self._delta_rel = (s.rows, rel.coalesce(1))
        return hit[1]

    def _write(self, ids: Sequence, df: DataFrame | None) -> "DeltaIndex":
        """One write: tombstone ``ids`` and replace the delta rows of
        every written id with ``df`` encoded (the write's one job). A
        write that holds one id twice keeps its last occurrence (the
        ``Space._prepare_batch`` rule)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        with self._lock:
            s = self._state
            if s.base is None:
                raise SearchError("index not trained")
            retired, rows, schema = list(ids), s.rows, s.schema
            new = None
            if df is not None:
                encoded = self._encode(df)
                new = encoded.toArrow()
                schema = schema or encoded.schema
                keys = new.column(self.id_col).to_pylist()
                last = {k: i for i, k in enumerate(keys)}
                if len(last) < len(keys):
                    new = new.take(sorted(last.values()))
                retired += last
            if rows is not None and retired:
                key = rows.column(self.id_col)
                hit = pc.is_in(key, value_set=pa.array(retired, key.type))
                rows = rows.filter(pc.invert(hit))
            if new is not None and new.num_rows:
                rows = new if rows is None else pa.concat_tables([rows, new])
            if rows is not None and not rows.num_rows:
                rows = None
            self._state = _State(s.base, {**s.dead, **dict.fromkeys(retired)}, rows, schema)
            if self._journal is not None:  # a fit is training: it re-applies this
                raw = None if new is None else (new.select(df.columns), df.schema)
                self._journal.append((list(ids), raw))
            if self._base_rows is None:
                self._base_rows = s.base.count()
            if self.pending > min(self.FOLD_SHARE * self._base_rows, self.FOLD_MAX):
                self.fold()
        return self

    def add(self, df: DataFrame) -> "DeltaIndex":
        """Add rows without retrain: they join the delta, encoded with
        the trained quantizers — the reference's background Indexing()
        loop adding realtime vectors (engine.cc:1084-1138). A row whose
        id is already indexed replaces it."""
        return self._write([], df)

    def remove(self, ids: Sequence | DataFrame) -> "DeltaIndex":
        """Drop ``ids`` without retrain: tombstones, the reference's
        delete bitmap (Engine::Delete engine.cc:869-900; every ANN
        candidate is checked against it, SearchCondition::IsValid
        gamma_common_data.h:98-106). A one-column DataFrame of ids
        folds at once."""
        if isinstance(ids, DataFrame):
            return self.fold(drop=ids)
        return self._write(ids, None)

    def replace(self, ids: Sequence | DataFrame, df: DataFrame) -> "DeltaIndex":
        """The upsert write-sync: :meth:`remove` ``ids`` and :meth:`add`
        their committed rows ``df`` in one write."""
        if isinstance(ids, DataFrame):
            return self.fold(drop=ids, add=df)
        return self._write(ids, df)

    def _refit(self, train: Callable[["DeltaIndex"], DataFrame]) -> "DeltaIndex":
        """``fit``'s publish step. ``train`` fits a shallow copy of the
        index — the family's hooks set the copy's fitted attributes —
        and returns its new base, persisted. Meanwhile searches read the
        old base and encoders, and writes land in the old delta. Then,
        under the write lock, the fitted attributes and the new base are
        published together, and every write made during the training is
        re-applied: its rows encoded again, against the new encoders.
        Writes pending before the fit began are superseded by its input,
        as a rebuild's are."""
        trainee = copy.copy(self)
        with self._lock:
            self._journal = []
        try:
            base = train(trainee)
            rows = base.count()
            with self._lock:
                journal, self._journal = self._journal, None
                stale = self._state.base
                vars(self).update(
                    (k, v) for k, v in vars(trainee).items() if k not in self._WRITE_STATE
                )
                self._reset(base, rows, rooted=False)
                spark = base.sparkSession
                for ids, raw in journal:
                    self._write(ids, None if raw is None else spark.createDataFrame(*raw))
                # a plan-equal re-fit shares the stale handle's cache entry:
                # releasing that handle would evict the new base with it
                if stale not in (None, self._borrowed) and not stale.sameSemantics(base):
                    stale.unpersist()
        finally:
            self._journal = None
        return self

    def unpersist(self) -> None:
        base = self._state.base
        if base is not None and base is not self._borrowed:
            base.unpersist()

    def fold(
        self, drop: DataFrame | None = None, add: DataFrame | None = None
    ) -> "DeltaIndex":
        """Fold the delta and tombstones — and a DataFrame write:
        ``drop`` ids out, ``add`` rows in — into a new base, then cut
        its lineage once. Nothing changes until the new base is
        materialized, so a fold that raises leaves the base, the delta
        and the tombstones as they were, and can be retried; a search
        meanwhile reads the old state whole."""
        with self._lock:
            if self._state.base is None:
                raise SearchError("index not trained")
            new, rows, outgrown = self._fold_base(drop, add)
            stale = self._state.base
            self._reset(new, rows, outgrown)
            if stale is not self._borrowed:
                stale.unpersist()
        return self


def _apply_score_band(
    df: DataFrame, score: Column, min_score: float | None, max_score: float | None
) -> DataFrame:
    # IsSimilarScoreValid gamma_common_data.h:94-96 — candidates outside
    # [min_score, max_score] are discarded before top-k.
    if min_score is not None:
        df = df.where(score >= float(min_score))
    if max_score is not None:
        df = df.where(score <= float(max_score))
    return df


def search(
    df: DataFrame,
    vector_col: str,
    query: Sequence[float],
    limit: int = DEFAULT_LIMIT,
    metric: str | Metric = Metric.L2,
    flt: dict | Column | None = None,
    schema: SpaceSchema | None = None,
    min_score: float | None = None,
    max_score: float | None = None,
    offset: int = 0,
    l2_sqrt: bool = False,
    normalize: bool = False,
    id_col: str = ID_FIELD,
    output_fields: list[str] | None = None,
    vector_value: bool = False,
    score_col: str = "_score",
    binary: bool = False,
) -> DataFrame:
    """Single-query exact top-k (FLAT, gamma_index_flat.cc semantics).

    Returns output fields + ``_score``, ordered by score (L2 asc / IP
    desc, doc_query.go:1526-1528), ties broken by ``id_col``.
    ``binary``: Hamming distance over packed codes, as in
    :func:`search_batch`.
    """
    m = Metric.parse(metric) if isinstance(metric, str) else metric
    _check_page(limit, offset)

    pred = compile_filter(flt, schema)
    if pred is not None:
        df = df.where(pred)  # pre-filter BEFORE scoring (engine.cc:355-373)

    # router-side query normalization (client.go:603-658), inside the
    # score expression
    m, score = _score(vector_col, query, m, l2_sqrt, binary, normalize and not binary)
    names = _output_names(df, vector_col, id_col, output_fields, vector_value)
    scored = df.select(*names, score.alias(score_col))
    scored = _apply_score_band(scored, F.col(score_col), min_score, max_score)
    ordered = scored.orderBy(
        _score_order(m, F.col(score_col)), F.col(id_col).asc()
    )
    if offset:
        # engine fetches topn+offset then skips (vector_manager.cc:924)
        ordered = ordered.offset(offset)
    return ordered.limit(limit)


def search_batch(
    df: DataFrame,
    vector_col: str,
    queries: DataFrame,
    query_vec_col: str = "query_vec",
    query_id_col: str = "query_id",
    limit: int = DEFAULT_LIMIT,
    metric: str | Metric = Metric.L2,
    flt: dict | Column | None = None,
    schema: SpaceSchema | None = None,
    min_score: float | None = None,
    max_score: float | None = None,
    offset: int = 0,
    l2_sqrt: bool = False,
    id_col: str = ID_FIELD,
    output_fields: list[str] | None = None,
    vector_value: bool = False,
    score_col: str = "_score",
    binary: bool = False,
) -> DataFrame:
    """Batched multi-query top-k: one row per (query_id, hit).

    ``queries`` is a small DataFrame (query_id, query_vec) — broadcast
    against the docs table; per-query top-k via a rank window
    partitioned by query_id (SURVEY.md §4 custom op (4)).

    ``binary``: score by Hamming distance over packed uint8 codes
    (the BINARYIVF brute form) instead of the float metric —
    ascending, like L2. The reference's parseVectors
    accepts req_num batches of q×(d/8) byte codes (doc_query.go:
    296-309); without this flag the float kernel would silently score
    L2² over the raw bytes.
    """
    m = Metric.parse(metric) if isinstance(metric, str) else metric
    _check_page(limit, offset)
    pred = compile_filter(flt, schema)
    if pred is not None:
        df = df.where(pred)

    joined = df.crossJoin(F.broadcast(queries))
    m, score = _score(vector_col, query_vec_col, m, l2_sqrt, binary)
    scored = joined.withColumn(score_col, score)
    scored = _apply_score_band(scored, F.col(score_col), min_score, max_score)
    out = _top_per_key(scored, query_id_col, m, score_col, id_col, limit, offset)
    names = [query_id_col] + _output_names(
        df, vector_col, id_col, output_fields, vector_value
    )
    return out.select(*names, score_col)


def search_meta(
    df: DataFrame,
    vector_col: str,
    query: Sequence[float],
    metric: str | Metric = Metric.L2,
    flt: dict | Column | None = None,
    schema: SpaceSchema | None = None,
    min_score: float | None = None,
    max_score: float | None = None,
    l2_sqrt: bool = False,
) -> DataFrame:
    """Per-search result metadata: ``total`` (candidate count after
    filter + score band) and the best score (``max_score`` in the
    reference's response, response.cc:256-312 — for L2 that is the
    minimum distance)."""
    m = Metric.parse(metric) if isinstance(metric, str) else metric
    pred = compile_filter(flt, schema)
    if pred is not None:
        df = df.where(pred)
    score = score_expr(vector_col, query, m, l2_sqrt=l2_sqrt)
    scored = df.select(score.alias("_score"))
    # unscoreable rows (NULL/ragged vector → NULL score) can never be
    # returned as hits, so they must not inflate `total` either
    scored = scored.where(F.col("_score").isNotNull())
    scored = _apply_score_band(scored, F.col("_score"), min_score, max_score)
    best = F.min("_score") if m.ascending else F.max("_score")
    return scored.agg(F.count("*").alias("total"), best.alias("best_score"))


def _output_names(
    df: DataFrame,
    vector_col: str,
    id_col: str,
    output_fields: list[str] | None,
    vector_value: bool,
) -> list[str]:
    """Projection rules (doc_query.go:1425-1459): ``_id`` always
    included; default = all scalar fields, vectors excluded unless
    ``vector_value``; the caller adds the synthesized ``_score``.
    Engine-internal columns (``_seq``, ``_partition_name``) are never
    part of the default — the
    reference returns _id + user fields only (doc_query.go:1425-1434),
    and leaking them here made the search output schema depend on
    whether the brute or index path served the request."""
    if output_fields is None:
        from vearch_spark.schema import PARTITION_FIELD, SEQ_FIELD

        hidden = {SEQ_FIELD, PARTITION_FIELD} - {id_col}
        # the searched column counts as a vector whatever its type
        # (packed Hamming codes are int arrays)
        array_cols = {vector_col} | {
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString().startswith("array<float")
            or f.dataType.simpleString().startswith("array<double")
        }
        array_cols.discard(id_col)
        names = [
            c
            for c in df.columns
            if c == id_col or (c not in array_cols and c not in hidden)
        ]
        if vector_value and vector_col not in names:
            names.append(vector_col)
    else:
        names = list(output_fields)
        if id_col in df.columns and id_col not in names:
            names.insert(0, id_col)  # _id force-included (doc_query.go:1450-1459)
        if vector_value and vector_col not in names:
            names.append(vector_col)
    return names
