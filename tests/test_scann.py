"""SCANN (ScaNN) parity: residual PQ + anisotropic assignment + exact
reorder (reference: internal/engine/index/impl/scann/config.txt +
gamma_index_vearch.cc; method: Guo et al., ICML 2020)."""

import numpy as np
import pytest

from vearch_spark.operators import topk
from vearch_spark.operators.ivf import (
    CODES_COL,
    IVFPQFastScanIndex,
    ScannIndex,
    _kmeans_np,
)
from vearch_spark.schema import Metric

DIM = 32
N = 6000
N_TRUE = 24


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(0, 4.0, size=(N_TRUE, DIM))
    vecs = centers[np.arange(N) % N_TRUE] + rng.normal(0, 1.0, (N, DIM))
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).persist()
    df.count()
    return df, centers


def test_coordinate_descent_never_increases_anisotropic_loss():
    """The defining property: CD codes achieve anisotropic loss <= the
    plain per-block argmin codes, pointwise."""
    rng = np.random.default_rng(3)
    n, dim, nsub, ksub = 400, 32, 8, 16
    dsub = dim // nsub
    vecs = rng.normal(0, 2.0, (n, dim))
    resid = rng.normal(0, 0.7, (n, dim))
    cb = np.stack([
        _kmeans_np(rng.normal(0, 0.7, (2000, dsub)), ksub, seed=i)
        for i in range(nsub)
    ])
    thr = 6.0  # ~0.5x the ~11 data norm: eta > 1 (past the floor)

    def aniso_loss(codes):
        e = resid - np.concatenate([cb[i][codes[:, i]] for i in range(nsub)], 1)
        norms2 = (vecs**2).sum(1)
        t2 = np.clip(thr**2 / np.maximum(norms2, 1e-12), 0, 0.99)
        eta = np.maximum((dim - 1) * t2 / (1 - t2), 1.0)  # impl floors at 1
        xhat = vecs / np.sqrt(np.maximum(norms2, 1e-12))[:, None]
        p = (e * xhat).sum(1)
        return (e**2).sum(1) + (eta - 1.0) * p**2

    plain = ScannIndex._anisotropic_codes(vecs, resid, cb, None)
    cd = ScannIndex._anisotropic_codes(vecs, resid, cb, thr)
    assert (aniso_loss(cd) <= aniso_loss(plain) + 1e-9).all()
    # and the descent actually moves: some codes differ
    assert (cd != plain).any()


def test_scann_recall_with_reorder(emb):
    df, centers = emb
    idx = ScannIndex(
        "embedding", Metric.L2, ncentroids=24, nprobe=8, nsubvector=8,
        rerank_k=100, id_col="vec_id", coarse_train_sample=N,
    ).fit(df)
    rng = np.random.default_rng(5)
    hits = 0
    nq = 8
    for _ in range(nq):
        q = (centers[rng.integers(0, N_TRUE)] + rng.normal(0, 1.0, DIM)).tolist()
        exact = {r.vec_id for r in topk.search(
            df, "embedding", q, limit=10, id_col="vec_id").collect()}
        got = {r.vec_id for r in idx.search(df, q, limit=10).collect()}
        hits += len(exact & got)
    assert hits / (10 * nq) >= 0.9
    idx._base.unpersist()


def test_anisotropic_screen_beats_plain_residual_pq_on_mips(emb):
    """Screen-quality isolation: rerank_k == limit so the exact reorder
    cannot rescue screen misses; the noise-shaped codes must match or
    beat the plain residual-PQ control on inner-product recall@10
    (averaged over queries) — the whole point of anisotropic
    quantization (Guo et al. §3)."""
    df, centers = emb
    # T ~ 0.55*mean-norm: eta = (d-1)*t^2/(1-t^2) > 1 (the paper's
    # weighting only kicks in once the threshold is a real fraction of
    # the point norm; the reference's 0.2 default assumes unit-norm
    # embeddings). Offline sweep on this fixture: screen recall@10
    # 0.683 plain -> 0.875 anisotropic.
    kw = dict(ncentroids=24, nprobe=24, nsubvector=16, rerank_k=10,
              id_col="vec_id", coarse_train_sample=N)
    aniso = ScannIndex("embedding", Metric.INNER_PRODUCT,
                       noise_shaping_threshold=12.0, **kw).fit(df)
    plain = ScannIndex("embedding", Metric.INNER_PRODUCT,
                       noise_shaping_threshold=None, **kw).fit(df)
    rng = np.random.default_rng(9)
    rec = {"aniso": 0, "plain": 0}
    nq = 12
    for _ in range(nq):
        q = (centers[rng.integers(0, N_TRUE)] + rng.normal(0, 1.0, DIM)).tolist()
        exact = {r.vec_id for r in topk.search(
            df, "embedding", q, limit=10, metric=Metric.INNER_PRODUCT,
            id_col="vec_id").collect()}
        for name, idx in (("aniso", aniso), ("plain", plain)):
            got = {r.vec_id for r in idx.search(df, q, limit=10).collect()}
            rec[name] += len(exact & got)
    assert rec["aniso"] >= rec["plain"]
    assert rec["aniso"] / (10 * nq) >= 0.5  # screen alone carries signal
    aniso._base.unpersist()
    plain._base.unpersist()


@pytest.mark.parametrize("metric", [Metric.L2, Metric.INNER_PRODUCT])
def test_threshold_none_is_fastscan(emb, metric):
    """The control arm: with ``noise_shaping_threshold=None`` ScaNN is
    IVFPQFastScan — equal codebooks, equal stored codes per id, equal
    search rows (ids and scores)."""
    df, centers = emb
    kw = dict(ncentroids=24, nprobe=8, nsubvector=8, rerank_k=50,
              id_col="vec_id", coarse_train_sample=N)
    scann = ScannIndex("embedding", metric, noise_shaping_threshold=None, **kw).fit(df)
    fs = IVFPQFastScanIndex("embedding", metric, **kw).fit(df)

    def codes(idx):
        rows = idx.assigned.select("vec_id", CODES_COL).collect()
        return {r.vec_id: list(r[CODES_COL]) for r in rows}

    try:
        assert np.array_equal(scann.codebooks, fs.codebooks)
        assert codes(scann) == codes(fs)
        rng = np.random.default_rng(13)
        for _ in range(3):
            q = (centers[rng.integers(0, N_TRUE)] + rng.normal(0, 1.0, DIM)).tolist()
            want = fs.search(df, q, limit=10).collect()
            assert len(want) == 10
            assert scann.search(df, q, limit=10).collect() == want
    finally:
        scann.unpersist()
        fs.unpersist()


def test_scann_save_load_roundtrip(emb, tmp_path):
    df, centers = emb
    idx = ScannIndex(
        "embedding", Metric.L2, ncentroids=8, nprobe=4, nsubvector=8,
        rerank_k=50, id_col="vec_id", coarse_train_sample=N,
    ).fit(df)
    q = centers[0].tolist()
    want = [(r.vec_id, round(r._score, 6)) for r in idx.search(df, q, limit=5).collect()]
    # default "auto" resolved to a concrete float at fit time
    assert isinstance(idx.noise_shaping_threshold, float)
    assert idx.noise_shaping_threshold > 0
    path = str(tmp_path / "scann_idx")
    idx.save(path)
    idx._base.unpersist()
    loaded = ScannIndex.load(df.sparkSession, path)
    assert loaded.noise_shaping_threshold == idx.noise_shaping_threshold
    got = [(r.vec_id, round(r._score, 6)) for r in loaded.search(df, q, limit=5).collect()]
    assert got == want


def test_eta_floor_degrades_to_plain_pq_on_misscaled_threshold():
    """An absolute threshold far below the data norms must behave like
    plain residual PQ (eta floored at 1), never invert the objective."""
    rng = np.random.default_rng(11)
    n, dim, nsub, ksub = 200, 32, 8, 16
    dsub = dim // nsub
    vecs = rng.normal(0, 3.0, (n, dim))  # norms ~ 17
    resid = rng.normal(0, 0.6, (n, dim))
    cb = np.stack([
        _kmeans_np(rng.normal(0, 0.6, (1500, dsub)), ksub, seed=50 + i)
        for i in range(nsub)
    ])
    plain = ScannIndex._anisotropic_codes(vecs, resid, cb, None)
    tiny_t = ScannIndex._anisotropic_codes(vecs, resid, cb, 0.2)
    assert (plain == tiny_t).all()
