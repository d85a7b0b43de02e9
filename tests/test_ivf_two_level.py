"""Two-level coarse quantizer: recall, probe bounds, persistence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vearch_spark.operators import topk
from vearch_spark.operators.ivf import CLUSTER_COL, TwoLevelIVFFlatIndex
from vearch_spark.schema import Metric

DIM = 16
N = 5000
N_TRUE = 40  # generating mixture components


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    centers = rng.normal(0, 8.0, size=(N_TRUE, DIM))
    noise = rng.normal(0, 0.8, size=(N, DIM))
    vecs = centers[np.arange(N) % N_TRUE] + noise
    rows = [(i, vecs[i].tolist()) for i in range(N)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").persist()
    df.count()
    return df, centers


@pytest.fixture(scope="module")
def index(emb):
    df, _ = emb
    return TwoLevelIVFFlatIndex(
        "embedding", Metric.L2, ncentroids_l1=8, ncentroids_l2=8,
        nprobe=12, id_col="vec_id", coarse_train_sample=N,
    ).fit(df)


def test_cell_space_and_padding(index, emb):
    df, _ = emb
    # 64 addressable cells; every assigned id lands in-range, and the
    # far-sentinel padding rows never win an assignment
    cells = [r[CLUSTER_COL] for r in index._base.select(CLUSTER_COL).distinct().collect()]
    assert all(0 <= c < 8 * 8 for c in cells)
    # probe returns nprobe distinct in-range cells
    q = [0.0] * DIM
    p = index.probe_cells(q)
    assert len(p) == 12 == len(set(p))
    assert all(0 <= c < 64 for c in p)


def test_two_level_recall(index, emb):
    df, centers = emb
    rng = np.random.default_rng(3)
    hits = 0
    nq = 10
    for qi in range(nq):
        q = (centers[rng.integers(0, N_TRUE)] + rng.normal(0, 0.8, DIM)).tolist()
        exact = [r.vec_id for r in topk.search(
            df, "embedding", q, limit=10, id_col="vec_id").collect()]
        got = [r.vec_id for r in index.search(df, q, limit=10).collect()]
        hits += len(set(exact) & set(got))
    assert hits / (10 * nq) >= 0.8  # the reference CI gate @10


def test_probe_matches_flat_order_quality(index, emb):
    # hierarchical probe must rank its chosen cells by true distance:
    # the best expanded cell equals the global argmin over the l2 tree
    # restricted to the explored level-1 beams
    df, centers = emb
    q = np.asarray(centers[0], dtype=np.float64)
    cells = index.probe_cells(q.tolist(), nprobe=5)
    d_all = ((index.centroids - q) ** 2).sum(axis=1)
    # probe's first cell is at least as close as any other probed cell
    assert d_all[cells[0]] == min(d_all[c] for c in cells)


def test_incremental_add_uses_hierarchical_assignment(index, emb):
    df, centers = emb
    new = [(100000 + i, (centers[0] + 0.01 * i).tolist()) for i in range(5)]
    ndf = df.sparkSession.createDataFrame(new, "vec_id long, embedding array<double>")
    index.add(ndf)
    q = centers[0].tolist()
    got = {r.vec_id for r in index.search(df, q, limit=5).collect()}
    assert any(v >= 100000 for v in got)
    index.remove([100000 + i for i in range(5)])


def test_save_load_roundtrip(index, emb, tmp_path):
    df, centers = emb
    path = str(tmp_path / "tl_idx")
    index.save(path)
    loaded = TwoLevelIVFFlatIndex.load(df.sparkSession, path)
    q = centers[3].tolist()
    assert loaded.probe_cells(q) == index.probe_cells(q)
    a = [(r.vec_id, r._score) for r in index.search(df, q, limit=10).collect()]
    b = [(r.vec_id, r._score) for r in loaded.search(df, q, limit=10).collect()]
    assert a == b


def test_space_build_index_selects_two_level(spark, tmp_path):
    """An IVFFLAT index declaration carrying level-2 params routes
    build_index to the hierarchical quantizer, dumps it with the table,
    and a reopen reloads the same class."""
    from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema
    from vearch_spark.space import Space

    schema = SpaceSchema(
        name="tl_space",
        fields=[
            FieldSpec("v", FieldType.VECTOR, dimension=8,
                      index=IndexSpec("v", "IVFFLAT",
                                      params={"ncentroids_l1": 4, "ncentroids_l2": 4,
                                              "nprobe": 6, "training_threshold": 10})),
        ],
    )
    p = str(tmp_path / "tl_space")
    sp = Space(spark, schema, path=p)
    rng = np.random.default_rng(2)
    sp.upsert([
        {"_id": str(i), "v": [float(x) for x in rng.normal(i % 4 * 5, 0.5, 8)]}
        for i in range(120)
    ])
    sp.build_index("v")
    assert type(sp._indexes["v"]).__name__ == "TwoLevelIVFFlatIndex"
    assert sp._indexes["v"].k1 * sp._indexes["v"].k2 == 16

    reopened = Space(spark, schema, path=p)
    assert type(reopened._indexes["v"]).__name__ == "TwoLevelIVFFlatIndex"
    q = [float(x) for x in rng.normal(5.0, 0.5, 8)]
    a = [r._id for r in sp.search(vector=q, limit=5).collect()]
    b = [r._id for r in reopened.search(vector=q, limit=5).collect()]
    assert a == b


def test_l2_fit_distributed_bit_identical_to_driver(emb):
    """The executor-parallel grouped-applyInPandas level-2 fit must be
    BIT-identical to the sequential driver loop (same slice order, same
    per-cell seeds) — the ivf2_knn oracle hash depends on it."""
    df, _ = emb
    kw = dict(ncentroids_l1=8, ncentroids_l2=8, nprobe=12,
              id_col="vec_id", coarse_train_sample=N)
    drv = TwoLevelIVFFlatIndex("embedding", Metric.L2, l2_fit="driver", **kw).fit(df)
    dist = TwoLevelIVFFlatIndex("embedding", Metric.L2, l2_fit="distributed", **kw).fit(df)
    assert np.array_equal(drv.l1_centroids, dist.l1_centroids)
    assert np.array_equal(drv.l2_centroids, dist.l2_centroids)
    assert np.array_equal(drv.l2_valid, dist.l2_valid)
    q = [0.5] * DIM
    assert drv.probe_cells(q) == dist.probe_cells(q)


def test_l2_fit_auto_threshold_routes():
    from vearch_spark.errors import SearchError

    idx = TwoLevelIVFFlatIndex("embedding", ncentroids_l1=8, ncentroids_l2=4)
    assert idx.l2_fit == "auto"
    with pytest.raises(SearchError, match="l2_fit"):
        TwoLevelIVFFlatIndex("embedding", l2_fit="bogus")
