"""Contrastive-training data mining over embedding tables.

``hard_negatives`` serves the standard contrastive/embedding-training
recipe: for each anchor, the k nearest corpus rows carrying a DIFFERENT
label — the "hard" negatives that sit closest to the decision boundary.
(Positives are same-label rows; negatives sampled uniformly are easy
and carry little gradient, so pipelines mine the near-boundary ones.)

Physical shape (the batched-search pattern, see
``IVFFlatIndex.search_batch``): the anchor set broadcasts, the corpus
is scanned ONCE and each row scored only against the broadcast
anchors; the per-anchor top-k is a rank window on the anchor id, which
Spark's WindowGroupLimit applies map-side — the one exchange carries
at most ``anchors × k`` rows per partition, never the scored corpus.

Scale notes: the anchor set must be broadcast-bounded (≈ up to a few
hundred thousand rows of (id, vec, label)); for corpus-scale anchor
sets, run in anchor batches, or block both sides by IVF cell first
(the ``bucket_col`` recipe of ``dedup.embedding_cosine_pairs``) so the
join keys on cluster id instead of broadcasting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from vearch_spark.functions.distance import score_expr
from vearch_spark.operators.topk import _top_per_key
from vearch_spark.schema import Metric


def hard_negatives(
    anchors: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    label_col: str = "label",
    k: int = 5,
    metric: Metric | str = Metric.L2,
    kernel: str = "expr",
    max_anchor_rows: int = 1_000_000,
) -> DataFrame:
    """Per-anchor top-``k`` nearest rows with a different label.

    Returns ``(anchor_id, <id_col>, <label_col>, _score)`` — for L2 the
    k smallest distances among wrong-label rows (ascending), for IP the
    k largest similarities (descending); ties break on the corpus id.
    Self-pairs need no special case: an anchor's own row shares its
    label, so the wrong-label test already excludes it (along with all
    other same-label rows — the positives). NULL labels compare
    null-safely: NULL is its own label class (unlabeled rows are
    negatives for every labeled anchor and vice versa) — a plain ``!=``
    would silently drop every anchor or candidate with a NULL label.

    ``kernel``: ``"expr"`` scores each (anchor, row) pair with the JVM
    fold — bit-identical to the DuckDB oracle (the hash-checked
    configuration). ``"blas"`` ships the anchor matrix in the task
    closure and scores every corpus Arrow batch as ONE numpy matmul
    inside ``mapInPandas``, emitting per-batch per-anchor top-k (the
    global window then ranks ≤ k·batches rows per anchor) — the
    corpus-scale path, same measured ~order-of-magnitude win as the
    knn-join/cosine BLAS kernels over the interpreted per-pair fold.
    """
    metric = Metric.parse(metric) if isinstance(metric, str) else metric
    if kernel not in ("blas", "expr"):
        raise ValueError(f"unknown kernel: {kernel!r} (blas | expr)")
    if kernel == "blas":
        scored = _blas_scored(
            anchors, corpus, vec_col, id_col, label_col, k, metric,
            max_anchor_rows=max_anchor_rows,
        )
    else:
        a = anchors.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
            F.col(label_col).alias("_albl"),
        )
        joined = corpus.join(
            F.broadcast(a),
            on=~corpus[label_col].eqNullSafe(F.col("_albl")),
            how="inner",
        )
        scored = joined.withColumn(
            "_score", score_expr(vec_col, "_qv", metric)
        )
    return _top_per_key(scored, "anchor_id", metric, "_score", id_col, int(k)).select(
        "anchor_id", id_col, label_col, "_score"
    )


def _blas_scored(
    anchors: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int,
    metric: Metric,
    max_anchor_rows: int = 1_000_000,
) -> DataFrame:
    """(anchor_id, id, label, _score) candidates: anchor matrix in the
    closure (the driver-side analog of the expr path's broadcast),
    per-batch matmul + wrong-label mask + per-anchor top-k."""
    import numpy as np
    import pandas as pd

    # ceiling-guarded collect: ONE job, bounded at max+1 rows by the
    # limit itself — a separate count() probe would both re-run the
    # anchor plan and race a nondeterministic source (sample/unordered
    # limit) whose second evaluation could exceed what the probe saw
    rows = anchors.select(id_col, vec_col, label_col).limit(
        max_anchor_rows + 1
    ).collect()
    if len(rows) > max_anchor_rows:
        raise ValueError(
            f"anchor set exceeds {max_anchor_rows} rows — too large for "
            "the closure-shipped BLAS kernel; batch the anchors, or use "
            "kernel='expr' (broadcast join) / cell-blocked knn_join"
        )
    sch = corpus.schema
    out_schema = (
        f"anchor_id {anchors.schema[id_col].dataType.simpleString()}, "
        f"{id_col} {sch[id_col].dataType.simpleString()}, "
        f"{label_col} {sch[label_col].dataType.simpleString()}, "
        "_score double"
    )
    if not rows:
        # kernel parity: the expr path's broadcast join of an empty
        # anchor set yields an empty result, not an error — a dynamic
        # anchor filter hitting zero rows must not crash on the scale
        # kernel either
        return anchors.sparkSession.createDataFrame([], out_schema)
    a_ids = [r[0] for r in rows]
    a_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    a_lbl = [r[2] for r in rows]
    a2 = (a_mat**2).sum(axis=1)
    ascending = metric.ascending
    kk = int(k)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # pre-sort by id + row-wise STABLE argsort: score ties cut
            # toward the lowest id, matching the expr kernel's
            # (score, id) window — argpartition would keep an arbitrary
            # tied row (duplicate embeddings make ties routine)
            pdf = pdf.sort_values(id_col, kind="stable")
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if ascending:
                d = a2[:, None] - 2.0 * (a_mat @ x.T) + (x**2).sum(axis=1)[None, :]
            else:
                d = -(a_mat @ x.T)
            lbl = pdf[label_col].to_numpy(dtype=object)
            for i, al in enumerate(a_lbl):
                # NULL is its own label class (eqNullSafe parity):
                # same-label (positives + self) pairs are masked out
                same = np.array(
                    [(v is al) or (v == al) if not (pd.isna(v) and al is None)
                     else True
                     for v in lbl],
                    dtype=bool,
                )
                d[i, same] = np.inf
            m = min(kk, d.shape[1])
            order = np.argsort(d, axis=1, kind="stable")[:, :m]
            ids = pdf[id_col].to_numpy()
            out_a, out_i, out_l, out_s = [], [], [], []
            for i in range(len(a_ids)):
                cols = order[i][np.isfinite(d[i, order[i]])]
                out_a.extend([a_ids[i]] * len(cols))
                out_i.extend(ids[cols])
                out_l.extend(lbl[cols])
                out_s.extend(d[i, cols] if ascending else -d[i, cols])
            yield pd.DataFrame(
                {
                    "anchor_id": out_a,
                    id_col: out_i,
                    label_col: out_l,
                    "_score": out_s,
                }
            )

    return corpus.select(id_col, vec_col, label_col).mapInPandas(
        score, schema=out_schema
    )
