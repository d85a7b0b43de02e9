"""HNSW scale harness: build + recall + batch throughput vs exact.

Reproduces the SCALE.md measurements:

    python tools/stress_hnsw.py 100000   # ~2 min
    python tools/stress_hnsw.py 1000000  # ~10 min (build ~8 min)

Prints one JSON line: build_s, recall@{1,10,100} vs the exact batched
FLAT scan (tie-aware), hnsw_batch_s vs exact_batch_s for a 20-query
batch. Shards sized ~62k rows so per-task build time stays bounded
(~2 ms/insert numpy constant factor).

The query synthesis / grouping / tie-aware-recall helpers here are THE
shared implementation — bench.py's ``hnsw_scale_suite`` imports them,
so SCALE.md and BENCH report the same measurement, never two hand-kept
copies that could drift."""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402


def clustered_queries(centers: "np.ndarray", nq: int, dim: int,
                      seed: int = 13) -> "np.ndarray":
    """nq query vectors near random cluster centers (the realistic ANN
    regime: queries land where data is dense)."""
    from tools.stress_1m import N_CLUSTERS

    rng = np.random.default_rng(seed)
    return centers[rng.integers(0, N_CLUSTERS, nq)] + rng.normal(
        0.0, 1.5, (nq, dim)
    )


def by_query_scores(rows, sign: float = 1.0) -> dict[int, list]:
    """Group collected (query_id, _score, vec_id) rows per query,
    best-score first. Scores sort ascending (L2's smaller-is-better);
    pass ``sign=-1.0`` for IP so larger-is-better scores reuse the
    same ordering and the tie-aware threshold math unchanged."""
    per: dict[int, list] = {}
    for r in rows:
        per.setdefault(r.query_id, []).append((sign * r["_score"], r.vec_id))
    for v in per.values():
        v.sort()
    return per


def tie_aware_recall(exact: dict[int, list], approx: dict[int, list],
                     nq: int, ks=(1, 10, 100), eps: float = 1e-6) -> dict:
    """recall@k scored against the exact k-th score as a threshold, so
    equidistant neighbors beyond the exact cut never count as misses."""
    out = {}
    for kk in ks:
        hit = 0
        for qid in range(nq):
            ex = exact.get(qid, [])
            if not ex:
                continue  # a queryless row degrades recall, never crashes
            kth = ex[min(kk, len(ex)) - 1][0]  # tie-aware score threshold
            hit += sum(1 for s, _ in approx.get(qid, [])[:kk] if s <= kth + eps)
        out[f"recall_at_{kk}"] = round(hit / (kk * nq), 4)
    return out


def main() -> None:
    from tools.stress_1m import make_df
    from vearch_spark.operators import topk
    from vearch_spark.operators.hnsw import HNSWIndex
    from vearch_spark.schema import Metric
    from vearch_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    # graph family: "hnsw" (default) or "diskann" (sharded Vamana —
    # same scaffolding, same append semantics via the builder hook)
    kind = sys.argv[2] if len(sys.argv) > 2 else "hnsw"
    # metric: "l2" (default) or "ip" — the IP run pins the Vamana
    # prune-shift fix (r6: α-rule inverted on negative IP distances)
    # at scale, where small-corpus recall can mask a bad prune
    metric_s = sys.argv[3] if len(sys.argv) > 3 else "l2"
    metric = Metric.INNER_PRODUCT if metric_s == "ip" else Metric.L2
    sign = -1.0 if metric is Metric.INNER_PRODUCT else 1.0
    dim, nq, k = 64, 20, 100
    spark = get_spark(app_name="hnsw-stress")
    df, centers = make_df(spark, n, dim=dim)
    df = df.persist()
    df.count()
    qlist = [q.tolist() for q in clustered_queries(centers, nq, dim)]
    nshards = max(4, math.ceil(n / 62_500))
    if kind == "diskann":
        from vearch_spark.operators.vamana import DiskANNStaticIndex

        idx = DiskANNStaticIndex(
            "embedding", metric, R=32, L=64, l_search=128,
            nshards=nshards, id_col="vec_id",
        )
    else:
        idx = HNSWIndex(
            "embedding", metric, nlinks=16, efConstruction=100, efSearch=128,
            nshards=nshards, id_col="vec_id",
        )
    t0 = time.time()
    idx.fit(df)
    out = {"kind": kind, "n": n, "dim": dim, "metric": metric_s,
           "nshards": nshards, "build_s": round(time.time() - t0, 1)}

    qdf = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qlist)], "query_id int, query_vec array<double>"
    )
    t0 = time.time()
    exact_rows = topk.search_batch(df, "embedding", qdf, limit=k,
                                   metric=metric, id_col="vec_id").collect()
    out["exact_batch_s"] = round(time.time() - t0, 2)
    t0 = time.time()
    approx_rows = idx.search_batch(qlist, limit=k).collect()
    out["hnsw_batch_s"] = round(time.time() - t0, 2)

    out.update(tie_aware_recall(
        by_query_scores(exact_rows, sign), by_query_scores(approx_rows, sign), nq
    ))

    # ---- incremental append: two same-sized batches, one crafted to
    # hash into a SINGLE shard, one uniform (touches every shard).
    # append_*_s times the write (the batch joins the driver-held
    # delta, searchable at once); fold_*_s times the fold that regrows
    # the touched shards (a write past the fold bound folds inside the
    # append, and then fold_*_s is ~0). Fold cost must track the
    # touched shard count (≈ build_s/nshards vs ≈ build_s), not the
    # corpus — the reference's background Indexing() incremental add
    # (engine.cc:1084-1138) has the same bounded-rewrite contract.
    n_add = max(500, n // 100)
    rng = np.random.default_rng(99)
    cand_ids = list(range(n, n + n_add * 3 * nshards))
    cand_df = spark.createDataFrame([(i,) for i in cand_ids], "vec_id long")
    from pyspark.sql import functions as F

    shard_of = {
        r.vec_id: r.s
        for r in cand_df.withColumn(
            "s", F.pmod(F.xxhash64(F.col("vec_id").cast("string")),
                        F.lit(nshards)).cast("int")
        ).collect()
    }
    one_shard_ids = [i for i in cand_ids if shard_of[i] == 0][:n_add]
    taken = set(one_shard_ids)
    # disjoint from the first batch: re-adding an id would measure a
    # duplicate insert, not an append (Vamana's dup check rejects it)
    uniform_ids = [i for i in cand_ids if i not in taken][:n_add]

    def _batch(ids):
        vecs = centers[rng.integers(0, len(centers), len(ids))] + rng.normal(
            0.0, 0.8, (len(ids), dim)
        )
        return spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
            "vec_id long, embedding array<double>",
        )

    for name, ids in (("1shard", one_shard_ids), ("allshard", uniform_ids)):
        batch = _batch(ids)
        t0 = time.time()
        idx.add(batch)
        out[f"append_{name}_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        if idx.pending:
            idx.fold()
        out[f"fold_{name}_s"] = round(time.time() - t0, 2)
    out["append_rows"] = n_add

    idx.unpersist()
    df.unpersist()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
