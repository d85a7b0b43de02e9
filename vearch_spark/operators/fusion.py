"""Multi-vector search with weighted rank fusion.

Reference semantics (vector_manager.cc:1024-1087; WeightedRanker parse
common_query_data.h:251-317; router gate doc_query.go:1488-1493):

- a search naming N vector fields runs N per-field top-k searches;
- results are intersected on docid (a doc must appear in EVERY
  per-field top-k);
- fused score = Σ weight_i · score_i, default weight 1/N;
- final order by fused score (metric direction of the fields — the
  reference requires one metric across fields).

Spark-first: N narrow top-k DataFrames (each a TakeOrderedAndProject),
inner-joined on id (broadcast — each side is ≤ per_field_k rows),
weighted sum, re-rank. The expensive work (N scans) stays narrow; the
join is tiny.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from vearch_spark.errors import SearchError
from vearch_spark.operators import topk
from vearch_spark.schema import ID_FIELD, Metric, SpaceSchema


@dataclass
class VectorQuery:
    """One per-field vector query (proto VectorQuery router_grpc.proto:129-136)."""

    field: str
    vector: Sequence[float]
    min_score: float | None = None
    max_score: float | None = None


def multi_vector_search(
    df: DataFrame,
    queries: list[VectorQuery],
    limit: int = topk.DEFAULT_LIMIT,
    metric: str | Metric = Metric.L2,
    weights: Sequence[float] | None = None,
    flt: dict | Column | None = None,
    schema: SpaceSchema | None = None,
    per_field_k: int | None = None,
    l2_sqrt: bool = False,
    id_col: str = ID_FIELD,
    output_fields: list[str] | None = None,
    score_col: str = "_score",
) -> DataFrame:
    """Fused multi-vector top-k. ``weights`` = WeightedRanker params;
    default 1/N (vector_manager.cc:1035)."""
    weights = fusion_weights(len(queries), weights)
    m = Metric.parse(metric) if isinstance(metric, str) else metric
    k_field = per_field_k or default_per_field_k(limit)

    parts: list[DataFrame] = []
    for i, q in enumerate(queries):
        field_spec = schema.field(q.field) if schema is not None else None
        if field_spec is not None and getattr(field_spec, "metric", None):
            fm = Metric.parse(field_spec.metric)
            if fm is not m:
                # mirror the Space.search gate: scoring an IP-declared
                # field with L2 (or vice versa) fuses silently wrong
                # ranks — the reference requires one metric across the
                # fused fields (doc_query.go:1488-1493)
                raise SearchError(
                    f"metric {m.value} does not match field {q.field!r}"
                    f" metric {fm.value}"
                )
        part = topk.search(
            df,
            vector_col=q.field,
            query=list(q.vector),
            limit=k_field,
            metric=m,
            flt=flt,
            schema=schema,
            min_score=q.min_score,
            max_score=q.max_score,
            l2_sqrt=l2_sqrt,
            id_col=id_col,
            output_fields=[id_col],
            score_col=f"_score_{i}",
            # per-field query normalization (format: normalization) —
            # docs were unit-normalized at ingest, the query must be
            # too (router client.go:603-658)
            normalize=bool(field_spec.normalize) if field_spec else False,
        )
        parts.append(part.select(id_col, f"_score_{i}"))

    return fuse_parts(
        parts, weights, m, limit, id_col=id_col, df=df,
        output_fields=output_fields, score_col=score_col,
    )


def fusion_weights(n: int, weights: Sequence[float] | None) -> list[float]:
    """The fusion request checks, for the exact and index-backed paths
    alike: at least two vector queries, and one WeightedRanker weight
    per query (ranker params must match the vector count,
    doc_query.go:201-216). Returns the weights, default 1/N."""
    if n < 2:
        raise SearchError("multi_vector_search requires >= 2 vector queries")
    if weights is None:
        return [1.0 / n] * n
    if len(weights) != n:
        raise SearchError(f"WeightedRanker expects {n} weights, got {len(weights)}")
    return list(weights)


def default_per_field_k(limit: int) -> int:
    """Candidate pool per fused field (the reference fetches the
    request topn per field; the 10× floor keeps the docid intersection
    well-populated) — ONE definition for the exact and index-backed
    paths so a tuning never desynchronizes them."""
    return max(limit * 10, 200)


def fuse_parts(
    parts: list[DataFrame],
    weights: Sequence[float],
    m: Metric,
    limit: int,
    id_col: str = ID_FIELD,
    df: DataFrame | None = None,
    output_fields: list[str] | None = None,
    score_col: str = "_score",
) -> DataFrame:
    """The fusion tail shared by the exact and index-backed paths:
    per-field (id, _score_i) lists → docid intersection via inner
    joins (vector_manager.cc:1024-1087) → Σ wᵢ·scoreᵢ → re-rank.
    Each part is a bounded top-k list, so the joins broadcast."""
    fused = parts[0]
    for part in parts[1:]:
        fused = fused.join(F.broadcast(part), on=id_col, how="inner")

    score = sum(
        (F.col(f"_score_{i}") * float(w) for i, w in enumerate(weights)),
        start=F.lit(0.0),
    )
    fused = fused.withColumn(score_col, score)

    order = (
        F.col(score_col).asc_nulls_last()
        if m.ascending
        else F.col(score_col).desc_nulls_last()
    )
    fused = fused.orderBy(order, F.col(id_col).asc()).limit(limit)

    if output_fields and df is not None:
        wanted = [c for c in output_fields if c != id_col]
        # enrich by broadcasting the ≤limit fused side against the full
        # docs table — inner is safe (every fused id came from df) and
        # lets the tiny side be the build side; a left join would leave
        # the physical strategy to pre-AQE stats and can shuffle df
        enriched = df.select(id_col, *wanted).join(
            F.broadcast(fused), on=id_col, how="inner"
        )
        enriched = enriched.orderBy(order, F.col(id_col).asc())
        return enriched.select(id_col, *wanted, score_col)
    return fused.select(id_col, score_col)
