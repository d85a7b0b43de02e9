"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the configuration below is chosen so
the same logical plans run unchanged on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting);
- Arrow on (vectorized Python interop for the few pandas-UDF paths);
- nanosAsLong for the driver's ns-timestamp parquet (Spark's parquet
  reader rejects TIMESTAMP(NANOS) otherwise).

This module is also the one owner of session-scoped state: the
session-lifetime artifacts (:func:`session_artifact`) and the pinned
relations lazy results still read (:func:`pin`, :func:`release_pinned`,
:func:`pinned_scope`).
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def _export_worker_pythonpath() -> str:
    """Put this package's parent dir on the env PYTHONPATH (idempotent).

    The Python-worker factory merges the JVM's ``PYTHONPATH`` into the
    worker interpreter's module path; exporting the repo root before the
    JVM launches makes :mod:`vearch_spark.worker_daemon` importable by
    the daemon process (``spark.python.daemon.module``).
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = os.environ.get("PYTHONPATH", "")
    if root not in parts.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            root + os.pathsep + parts if parts else root
        )
    return os.environ["PYTHONPATH"]


def get_spark(
    app_name: str = "vearch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    worker_pythonpath = _export_worker_pythonpath()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # local[N] packs all executor threads into one JVM — size the
        # heap for N concurrent task buffers + cached index relations
        # (default 1g OOMs a 1M-row sort+persist). Applied at JVM
        # launch; no-op if a session already exists.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the output partitioning of CACHED plans too
        # (r9): the persisted index/postings relations (IVF assigned,
        # BM25 postings, banded dedup relations) otherwise freeze the
        # static shuffle.partitions width at materialization, and every
        # downstream stage over the cache schedules that many
        # near-empty tasks (measured: 100+ one-row tasks per stage in
        # bm25/tfidf/hybrid_rrf at sf0.1; back-to-back suite of 14
        # index-backed queries 7.7 s -> 6.1 s with this on). Scale-
        # neutral: it applies the SAME AQE size-based coalescing the
        # engine already relies on for uncached exchanges.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # daemon shim: backports CPython 3.12's mtime-guarded
        # zipimporter.invalidate_caches (r9, guide §4). Spark calls
        # importlib.invalidate_caches() once per task; on Python 3.11
        # each of the worker's ~13 pyspark.zip zipimporters re-reads
        # the zip central directory every time — ~190 ms of fixed
        # latency on EVERY Python-runner task (a no-op 16-task
        # mapInPandas stage measured 390-590 ms wall at ~3 ms of real
        # compute per task; ~134 ms with the guard). Scale-neutral:
        # any cluster shipping
        # pyspark.zip to Python 3.11 workers pays the same tax.
        .config("spark.python.daemon.module", "vearch_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        # Python workers always run on the executor's host, so the
        # JVM<->worker data channel can ride a unix domain socket
        # instead of loopback TCP (Spark 4.1 feature): interleaved A/B
        # of the no-op 16-task mapInPandas stage reads min 122-151 ms
        # vs 155-175 ms over TCP (3/3 pairs). Host-neutral - same
        # transport choice on any cluster.
        .config("spark.python.unix.domain.socket.enabled", "true")
        # PySpark's DataFrame debugging captures the Python call site on
        # every Column method and function call (F.col, alias, asc, a
        # comparison), about eight extra JVM round trips each: most of
        # a small request's plan build. Without it a Spark error still
        # carries its SQL context, not the Python line of the Column.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        # keep stderr quiet: the stage progress bar writes \r-frames that
        # can interleave with stdout at the pty level and corrupt the
        # one-line JSON contract bench.py prints for the driver
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Session-lifetime artifacts, keyed by (id(spark), *key): pure
# statistics of static inputs (fitted indexes and models, the postings
# relation, parquet relation handles, hot-key verdicts) plus the
# memoized lazy plans of each (session, sf_dir). Nothing here is a
# query result: an action on a held DataFrame still re-executes its
# plan. The reference keeps trained indexes resident the same way
# (background Indexing() loop, engine.cc:1084-1138), so queries never
# pay a rebuild.
_ARTIFACT_CACHE: dict[tuple, object] = {}

# Persisted relations a returned lazy plan still reads. The operator
# that persisted one cannot unpersist it, so the caller releases them
# after materializing the result.
_PINNED: list[DataFrame] = []


def session_artifact(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """The session's artifact under ``key``, built by ``build()`` (which
    never returns None) on first use."""
    k = (id(spark), *key)
    got = _ARTIFACT_CACHE.get(k)
    if got is None:
        got = _ARTIFACT_CACHE[k] = build()
    return got


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and hold it until the caller releases pins."""
    df = df.persist()
    _PINNED.append(df)
    return df


def pinned_count() -> int:
    return len(_PINNED)


def _unpin_from(mark: int) -> int:
    released = _PINNED[mark:]
    del _PINNED[mark:]
    n = 0
    for df in released:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def release_pinned() -> int:
    """Unpersist every pinned relation; returns how many were released.
    Call after the results reading them are materialized (collected or
    written). Long-lived sessions running many dedup queries call this
    between materializations; each LSH skew-guarded call and each
    inline postings build otherwise pins one relation for the session's
    lifetime."""
    return _unpin_from(0)


@contextlib.contextmanager
def pinned_scope():
    """Unpersist on exit every relation pinned inside the scope, leaving
    those pinned before entry alone (scopes nest). Materialize results
    before leaving: the returned plans read the pinned relations
    lazily, so an action run after exit recomputes them (correct, just
    slower)::

        with pinned_scope():
            pairs = minhash_lsh_pairs(docs, ...)
            hits = pairs.collect()

    Library callers should prefer this over :func:`release_pinned`,
    which also releases relations another in-flight computation still
    needs."""
    mark = len(_PINNED)
    try:
        yield
    finally:
        _unpin_from(mark)
