"""Custom stateful streaming operators (applyInPandasWithState).

The reference has no session/custom stream state (SURVEY.md §2.9) —
this is part of the beyond-reference training-pipeline surface: exact
streaming deduplication. A 100 TB ingest pipeline cannot re-scan the
corpus per batch to drop duplicates; instead the seen-fingerprint set
lives in Spark's keyed state store, partitioned by fingerprint, and
each micro-batch emits only first occurrences.

Scale shape: state is sharded by the groupBy key (the fingerprint), so
the state store grows with *distinct* documents only and lookups are
local to the shuffle partition — the same partitioned-hash-set design a
dedicated dedup service would use, with checkpoint/recovery for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

_STATE_SCHEMA = T.StructType([T.StructField("n_seen", T.LongType())])


def streaming_first_seen(stream_df: DataFrame, key_col: str) -> DataFrame:
    """Emit only the first row ever seen per ``key_col`` across the
    whole stream (exact streaming dedup). Duplicate counts accumulate
    in keyed state; later occurrences are dropped, including within a
    single micro-batch.
    """
    out_schema = stream_df.schema

    def dedup(key, pdfs, state: GroupState):
        seen = state.get[0] if state.exists else 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if seen == 0:
                yield pdf.iloc[[0]]
            seen += len(pdf)
        state.update((seen,))

    return stream_df.groupBy(key_col).applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup_within_watermark(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Watermark-bounded streaming dedup: drop rows whose ``key_col``
    was already seen within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — Spark evicts each key's state
    once the watermark passes it).

    The complement of :func:`streaming_first_seen`: that one is exact
    forever but its state grows with *distinct* keys; this one bounds
    state by event time, the right trade when duplicates arrive close
    together (retries, at-least-once sources, crawl refetches) and the
    corpus is unbounded. 100 TB posture: state ∝ distinct keys per
    watermark window, sharded by key across executors — never corpus-
    proportional."""
    return stream_df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        [key_col]
    )
