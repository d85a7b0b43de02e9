"""ANN recall gates vs exact ground truth (reference CI thresholds,
test_recall_baseline.py:301-303: recall@100 ≥ 0.90, @10 ≥ 0.80,
@1 ≥ 0.50). Deterministic pseudo-random fixture (FIXTURES.md F4)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vearch_spark.operators.ivf import IVFFlatIndex, IVFPQIndex
from vearch_spark.schema import Metric

N, DIM, NQ = 4000, 32, 20


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(42)
    # clustered data (mixture of 40 gaussians) — the regime IVF assumes
    centers = rng.normal(0, 10, size=(40, DIM))
    assign = rng.integers(0, 40, size=N)
    x = centers[assign] + rng.normal(0, 1.5, size=(N, DIM))
    df = spark.createDataFrame(
        [(int(i), x[i].astype(float).tolist()) for i in range(N)],
        "vec_id long, embedding array<float>",
    ).repartition(8).cache()
    df.count()
    queries = centers[rng.integers(0, 40, size=NQ)] + rng.normal(0, 1.5, size=(NQ, DIM))
    return df, x.astype(np.float64), queries.astype(np.float64)


def ground_truth(x, q, k):
    d = ((x - q) ** 2).sum(axis=1)
    return set(np.argsort(d, kind="stable")[:k].tolist())


def recall_at(index, df, x, queries, k):
    hits = 0
    for q in queries:
        got = {r.vec_id for r in index.search(df, q.tolist(), limit=k).collect()}
        hits += len(got & ground_truth(x, q, k))
    return hits / (k * len(queries))


@pytest.fixture(scope="module")
def ivfflat(corpus):
    df, _, _ = corpus
    idx = IVFFlatIndex("embedding", Metric.L2, ncentroids=40, nprobe=8, id_col="vec_id")
    idx.fit(df)
    yield idx
    idx.unpersist()


@pytest.fixture(scope="module")
def ivfpq(corpus):
    df, _, _ = corpus
    idx = IVFPQIndex(
        "embedding", Metric.L2, ncentroids=40, nprobe=8,
        nsubvector=8, nbits=6, id_col="vec_id", train_sample=4000,
    )
    idx.fit(df)
    yield idx
    idx.unpersist()


def test_ivfflat_recall(ivfflat, corpus):
    df, x, queries = corpus
    r1 = recall_at(ivfflat, df, x, queries, 1)
    r10 = recall_at(ivfflat, df, x, queries, 10)
    assert r1 >= 0.5, f"recall@1={r1}"
    assert r10 >= 0.8, f"recall@10={r10}"


def test_ivfflat_recall_at_100(ivfflat, corpus):
    df, x, queries = corpus
    r100 = recall_at(ivfflat, df, x, queries, 100)
    assert r100 >= 0.9, f"recall@100={r100}"


def test_ivfpq_recall(ivfpq, corpus):
    df, x, queries = corpus
    r1 = recall_at(ivfpq, df, x, queries, 1)
    r10 = recall_at(ivfpq, df, x, queries, 10)
    assert r1 >= 0.5, f"recall@1={r1}"
    assert r10 >= 0.8, f"recall@10={r10}"


def test_ivf_more_probes_more_recall(corpus, ivfflat):
    """nprobe sweep direction (BASELINE.md parameter findings)."""
    df, x, queries = corpus
    few = IVFFlatIndex("embedding", Metric.L2, ncentroids=40, nprobe=1, id_col="vec_id")
    few.centroids = ivfflat.centroids
    few._reset(ivfflat._base)
    r_few = recall_at(few, df, x, queries, 10)
    r_many = recall_at(ivfflat, df, x, queries, 10)
    assert r_many >= r_few


def test_ivf_prefilter(ivfflat, corpus):
    df, x, queries = corpus
    out = ivfflat.search(df, queries[0].tolist(), limit=5, flt=F.col("vec_id") < 100)
    assert all(r.vec_id < 100 for r in out.collect())


def test_ivf_batch_search(spark, embeddings, embeddings_np):
    """Batched ANN: with nprobe=ncentroids (probe everything) the batch
    path must equal exact FLAT per query; with few probes, recall@10
    stays above the reference CI gate (0.8)."""
    import numpy as np

    from vearch_spark.operators.ivf import IVFFlatIndex
    from vearch_spark.schema import Metric

    ids, mat, _ = embeddings_np
    queries = [list(mat[7]), list(mat[123] + 0.25), list(mat[400])]
    index = IVFFlatIndex("embedding", Metric.L2, ncentroids=8, nprobe=8, id_col="vec_id")
    index.fit(embeddings)
    try:
        got = index.search_batch(queries, limit=10).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, []).append(r.vec_id)
        assert set(by_q) == {0, 1, 2}
        for qid, q in enumerate(queries):
            d = ((mat - np.asarray(q)) ** 2).sum(axis=1)
            order = np.lexsort((ids, d))
            exact = [int(ids[i]) for i in order[:10]]
            assert by_q[qid] == exact  # full probe == exact, same tie-break
        # pruned probing still clears the reference recall gate
        got2 = index.search_batch(queries, limit=10, nprobe=4).collect()
        by_q2 = {}
        for r in got2:
            by_q2.setdefault(r.query_id, []).append(r.vec_id)
        for qid, q in enumerate(queries):
            d = ((mat - np.asarray(q)) ** 2).sum(axis=1)
            exact = {int(ids[i]) for i in np.argsort(d)[:10]}
            recall = len(exact & set(by_q2.get(qid, []))) / 10
            assert recall >= 0.8, f"query {qid} recall@10 {recall}"
    finally:
        index.unpersist()


def test_ivfflat_recall_inner_product(corpus):
    """The reference CI gates IP too (GloVe-IP, test_recall_baseline.py:
    301-303). IP ground truth = argmax dot product, desc ordering."""
    df, x, queries = corpus
    index = IVFFlatIndex(
        "embedding", Metric.INNER_PRODUCT, ncentroids=32, nprobe=8, id_col="vec_id"
    )
    index.fit(df)
    try:
        hits10 = hits1 = 0
        for q in queries:
            got = [r.vec_id for r in index.search(df, q.tolist(), limit=10).collect()]
            exact = np.argsort(-(x @ q), kind="stable")[:10].tolist()
            hits10 += len(set(got) & set(exact))
            hits1 += int(got[0] == exact[0])
        assert hits10 / (10 * len(queries)) >= 0.8
        assert hits1 / len(queries) >= 0.5
    finally:
        index.unpersist()


def test_ivfrabitq_recall(corpus):
    """IVFRABITQ (binary residual quantization + rerank) must clear the
    reference CI gates like the other indexes."""
    from vearch_spark.operators.ivf import IVFRaBitQIndex

    df, x, queries = corpus
    index = IVFRaBitQIndex(
        "embedding", Metric.L2, ncentroids=32, nprobe=8, id_col="vec_id",
        rerank_k=100,
    )
    index.fit(df)
    try:
        hits10 = hits1 = 0
        for q in queries:
            got = [r.vec_id for r in index.search(df, q.tolist(), limit=10).collect()]
            d = ((x - q) ** 2).sum(axis=1)
            exact = np.argsort(d, kind="stable")[:10].tolist()
            hits10 += len(set(got) & set(exact))
            hits1 += int(got[0] == exact[0])
        assert hits10 / (10 * len(queries)) >= 0.8
        assert hits1 / len(queries) >= 0.5
    finally:
        index.unpersist()


def test_binary_ivf_recall(spark):
    """BINARYIVF (Hamming over packed sign codes): full probe must equal
    the exact Hamming scan; pruned probes clear the reference CI gate.
    Hamming ties are dense, so pruned recall is tie-aware: a hit counts
    if its distance ≤ the kth true distance."""
    from vearch_spark.operators.ivf import BinaryIVFIndex, _POP8

    rng = np.random.default_rng(7)
    bdim, nbytes, n = 64, 8, 3000
    centers = rng.normal(0, 10, size=(40, bdim))
    assign = rng.integers(0, 40, size=n)
    x = centers[assign] + rng.normal(0, 1.5, size=(n, bdim))
    packed = np.packbits((x > 0).astype(np.uint8), axis=1, bitorder="little")
    df = spark.createDataFrame(
        [(int(i), [int(b) for b in packed[i]]) for i in range(n)],
        "vec_id long, code array<int>",
    ).repartition(8)

    idx = BinaryIVFIndex("code", ncentroids=40, nprobe=8, id_col="vec_id")
    idx.fit(df)
    try:
        qs = centers[rng.integers(0, 40, size=10)] + rng.normal(0, 1.5, size=(10, bdim))
        qcodes = np.packbits((qs > 0).astype(np.uint8), axis=1, bitorder="little")
        hits = 0
        for qc in qcodes:
            d = _POP8[packed ^ qc[None, :]].sum(axis=1)
            # full probe == exact scan, same (distance, id) tie-break
            got = [r.vec_id for r in idx.search(df, qc.tolist(), limit=10, nprobe=40).collect()]
            exact = [int(i) for i in np.lexsort((np.arange(n), d))[:10]]
            assert got == exact
            # pruned probing: tie-aware recall@10
            kth = np.partition(d, 9)[9]
            got8 = [r.vec_id for r in idx.search(df, qc.tolist(), limit=10).collect()]
            hits += sum(1 for i in got8 if d[i] <= kth)
        assert hits / 100 >= 0.8, f"tie-aware recall@10 {hits / 100}"
    finally:
        idx.unpersist()


def test_ivf_incremental_add(spark, corpus):
    """Incremental add (Engine::AddRTVecsToIndex / the Indexing() loop):
    new rows join the trained index without retrain. Full probe over
    the grown index must equal the exact scan over old ∪ new; the
    original centroids must be untouched."""
    from vearch_spark.operators.ivf import IVFFlatIndex, IVFPQIndex

    df, x, queries = corpus
    old = df.where(F.col("vec_id") < N - 400)
    new = df.where(F.col("vec_id") >= N - 400)

    idx = IVFFlatIndex("embedding", Metric.L2, ncentroids=40, nprobe=40, id_col="vec_id")
    idx.fit(old)
    cents_before = idx.centroids.copy()
    idx.add(new)
    try:
        assert np.array_equal(idx.centroids, cents_before)
        q = queries[0]
        got = [r.vec_id for r in idx.search(df, q.tolist(), limit=10).collect()]
        d = ((x - q) ** 2).sum(axis=1)
        exact = [int(i) for i in np.lexsort((np.arange(N), d))[:10]]
        assert got == exact  # full probe == exact over the union
    finally:
        idx.unpersist()

    # PQ: codes for added rows use the existing codebooks; recall gate
    # still clears after growth
    # rerank_k 128 (vs the default 64): quantizers trained on 87% of
    # the corpus sit slightly off the grown distribution, so the exact
    # rerank needs a deeper ADC preselection — the same drift the
    # reference answers with RebuildIndex when it accumulates
    pq = IVFPQIndex(
        "embedding", Metric.L2, ncentroids=40, nprobe=10, rerank_k=128,
        nsubvector=8, nbits=6, id_col="vec_id", train_sample=4000,
    )
    pq.fit(old)
    pq.add(new)
    try:
        r10 = recall_at(pq, df, x, queries, 10)
        assert r10 >= 0.8, f"recall@10 after add {r10}"
    finally:
        pq.unpersist()


def test_many_incremental_mutations_stay_correct(spark):
    """A long add/remove sequence must keep answering exactly through
    dozens of point writes: each write only changes the delta and the
    tombstones, so the search relation stays (base − tombstones) ∪
    delta however many writes ran."""
    import numpy as np

    from vearch_spark.operators.ivf import IVFFlatIndex
    from vearch_spark.schema import Metric

    rng = np.random.default_rng(0)
    rows = [(i, rng.normal(i % 4 * 5, 0.4, 8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IVFFlatIndex("embedding", Metric.L2, ncentroids=4, nprobe=4,
                       id_col="vec_id").fit(df)
    for wave in range(12):
        nid = 1000 + wave
        ndf = spark.createDataFrame(
            [(nid, rng.normal(5.0, 0.4, 8).tolist())],
            "vec_id long, embedding array<double>",
        )
        idx.add(ndf)
        if wave % 3 == 2:
            idx.remove([1000 + wave - 1])
    # full-probe search == exact over the mutated membership
    kept = {1000 + w for w in range(12)} - {1000 + w - 1 for w in range(12) if w % 3 == 2}
    got = {r.vec_id for r in idx.search(None, [5.0] * 8, limit=300, nprobe=4).collect()}
    assert kept <= got
    assert not ({1001, 1004, 1007, 1010} & got)  # removed ids stay gone
    idx.unpersist()


def test_ivfrabitq_recall_inner_product(corpus):
    """IP RaBitQ screens candidates by the directed IP estimate
    (q·c + ‖q‖‖v−c‖cosθ̂), not the L2 residual estimate — on
    un-normalized vectors L2-closest ≠ IP-best, so an L2 screen cuts
    the true IP winners before the exact rerank."""
    from vearch_spark.operators.ivf import IVFRaBitQIndex

    df, x, queries = corpus
    index = IVFRaBitQIndex(
        "embedding", Metric.INNER_PRODUCT, ncentroids=32, nprobe=16,
        id_col="vec_id", rerank_k=200,
    )
    index.fit(df)
    try:
        hits10 = hits1 = 0
        for q in queries:
            got = [r.vec_id for r in index.search(df, q.tolist(), limit=10).collect()]
            exact = np.argsort(-(x @ q), kind="stable")[:10].tolist()
            hits10 += len(set(got) & set(exact))
            hits1 += int(got[0] == exact[0])
        assert hits10 / (10 * len(queries)) >= 0.8
        assert hits1 / len(queries) >= 0.5
    finally:
        index.unpersist()


def test_pq_pagination_past_rerank_window(ivfpq, corpus):
    """offset+limit beyond the default rerank window must still fill
    the page: the candidate pool expands to offset+limit (topk.search
    slices .offset().limit() AFTER the rerank truncation)."""
    df, _, queries = corpus
    q = queries[0].tolist()
    # default rerank base = max(50*4, 64) = 200 < offset+limit = 250
    page = ivfpq.search(df, q, limit=50, offset=200, nprobe=32).collect()
    assert len(page) == 50
    # with the rerank pool held FIXED (explicit rerank_k ≥ both pages),
    # offset pages tile the single big scan exactly
    idx = IVFPQIndex(
        "embedding", Metric.L2, ncentroids=40, nprobe=8, nsubvector=8,
        nbits=6, id_col="vec_id", train_sample=4000, rerank_k=300,
    ).fit(df)
    try:
        page2 = idx.search(df, q, limit=50, offset=200, nprobe=32).collect()
        full = idx.search(df, q, limit=250, nprobe=32).collect()
        assert [r.vec_id for r in page2] == [r.vec_id for r in full[200:250]]
    finally:
        idx.unpersist()


def test_rabitq_pagination_past_rerank_window(corpus):
    from vearch_spark.operators.ivf import IVFRaBitQIndex

    df, _, queries = corpus
    index = IVFRaBitQIndex(
        "embedding", Metric.L2, ncentroids=32, nprobe=32, id_col="vec_id",
        rerank_k=100,
    )
    index.fit(df)
    try:
        q = queries[0].tolist()
        page = index.search(df, q, limit=50, offset=100).collect()
        assert len(page) == 50  # explicit rerank_k=100 < offset+limit=150
    finally:
        index.unpersist()


def test_nprobe_must_be_positive(ivfflat):
    from vearch_spark.errors import SearchError

    for bad in (0, -1):
        with pytest.raises(SearchError, match="nprobe"):
            ivfflat.probe_cells([0.0] * DIM, nprobe=bad)


def test_binary_ivf_output_fields_force_include_id(spark):
    """Projection contract parity with topk._output_cols: _id is always
    included even when output_fields omits it (doc_query.go:1450-1459)."""
    from vearch_spark.operators.ivf import BinaryIVFIndex

    rng = np.random.default_rng(3)
    rows = [
        (int(i), [int(b) for b in rng.integers(0, 256, 8)], f"c{i % 3}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, code array<int>, color string")
    idx = BinaryIVFIndex("code", ncentroids=4, nprobe=4, id_col="vec_id").fit(df)
    try:
        out = idx.search(df, rows[0][1], limit=5, output_fields=["color"])
        assert out.columns == ["vec_id", "color", "_score"]
        assert out.count() == 5
    finally:
        idx.unpersist()


def test_refit_releases_previous_cache(spark, corpus):
    """fit() on an already-fitted index (the RebuildIndex lineage
    reset) must unpersist the superseded cache — CacheManager holds
    strong refs, so a leak here grows executor memory per rebuild."""
    df, _, _ = corpus

    def ncached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = ncached()
    idx = IVFFlatIndex("embedding", Metric.L2, ncentroids=8, nprobe=4, id_col="vec_id")
    idx.fit(df)
    one = ncached()
    idx.fit(df)  # re-fit must swap, not stack
    assert ncached() == one
    idx.unpersist()
    assert ncached() == base


def test_ivfpq_fastscan_distinct_path(corpus, tmp_path):
    """IVFPQFastScan as a distinct physical path: 4-bit codes (ksub=16)
    + int8-quantized LUT screen. The quantized screen only coarsens
    candidate SELECTION — the shared exact rerank re-scores raw
    vectors, so the recall gates hold; the quantized LUT itself must
    agree with the float LUT on ordering direction (monotone affine),
    and save/load round-trips the class."""
    from vearch_spark.operators.ivf import IVFPQFastScanIndex

    df, x, queries = corpus
    idx = IVFPQFastScanIndex(
        "embedding", Metric.L2, ncentroids=40, nprobe=10,
        nsubvector=8, rerank_k=100, id_col="vec_id", train_sample=4000,
    )
    assert idx.ksub == 16  # 2^4: FastScan's defining code width
    idx.fit(df)
    try:
        # the live screen tables (per probed cell): int32, in
        # [0, 255], order-preserving per (cell, subquantizer) row
        q0 = queries[0].tolist()
        cells = idx.probe_cells(q0)
        lut_f = IVFPQIndex._pq_cell_luts(idx, q0, cells)[0].reshape(-1, idx.ksub)
        lut_q = idx._pq_cell_luts(q0, cells)[0].reshape(-1, idx.ksub)
        assert lut_q.dtype == np.int32
        assert lut_q.min() >= 0 and lut_q.max() <= 255
        for row_f, row_q in zip(lut_f, lut_q):
            # affine quantization is monotone: walked in float order,
            # the quantized row never decreases (ties may collapse)
            walked = row_q[np.argsort(row_f, kind="stable")]
            assert (np.diff(walked) >= 0).all()
        assert recall_at(idx, df, x, queries, 10) >= 0.80
        assert recall_at(idx, df, x, queries, 1) >= 0.50

        p = str(tmp_path / "fs")
        idx.save(p)
        from vearch_spark.operators.ivf import IVFPQFastScanIndex as FS

        back = FS.load(df.sparkSession, p)
        assert isinstance(back, FS) and back.ksub == 16
        q = queries[0].tolist()
        a = [(r.vec_id, round(float(r["_score"]), 6))
             for r in idx.search(df, q, limit=10).collect()]
        b = [(r.vec_id, round(float(r["_score"]), 6))
             for r in back.search(df, q, limit=10).collect()]
        assert a == b
        back.unpersist()
    finally:
        idx.unpersist()


def test_fastscan_declared_space_builds_real_fastscan(spark):
    """A space declared IVFPQFASTSCAN trains the real distinct-path
    index (never the plain-PQ stand-in) and reloads as it."""
    from vearch_spark.operators.ivf import IVFPQFastScanIndex
    from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema
    from vearch_spark.space import Space

    sch = SpaceSchema(
        name="fsspace",
        fields=[FieldSpec("v", FieldType.VECTOR, dimension=8,
                          index=IndexSpec("v", "IVFPQFASTSCAN",
                                          params={"ncentroids": 4, "nprobe": 4,
                                                  "nsubvector": 4,
                                                  "training_threshold": 10}))],
    )
    sp = Space(spark, sch)
    sp.upsert([{"_id": str(i), "v": [float(i % 7), float(i % 5)] * 4}
               for i in range(60)])
    sp.build_index("v")
    assert isinstance(sp._indexes["v"], IVFPQFastScanIndex)
    assert sp._indexes["v"].ksub == 16
    got = sp.search(vector=[3.0, 3.0] * 4, limit=5, is_brute_search=0).collect()
    assert len(got) == 5


def test_ivfpq_inner_product_residual_paths(spark):
    """IP-metric coverage for the residual paths (r6 review finding):
    (a) the FastScan screen's int8 quantization must preserve float-ADC
    pairwise ordering (the double-quantization bug measured ~0.70
    agreement: the base class polymorphically re-used FastScan's
    already-quantized table and summed it with the float q.centroid
    add-back at scale 1.0); (b) end-to-end recall gates for IVFPQ and
    FastScan under IP with a moderate rerank pool."""
    import numpy as np

    from vearch_spark.operators import topk
    from vearch_spark.operators.ivf import IVFPQFastScanIndex, IVFPQIndex
    from vearch_spark.schema import Metric

    rng = np.random.default_rng(4)
    centers = rng.normal(0, 10, (32, 64))
    X = centers[rng.integers(0, 32, 8000)] + rng.normal(0, 1.0, (8000, 64))
    df = spark.createDataFrame(
        [(i, x.astype(float).tolist()) for i, x in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).persist()
    df.count()
    q = (centers[5] + rng.normal(0, 1.0, 64)).tolist()

    # (a) screen-vs-float pairwise order agreement on random codes
    fs = IVFPQFastScanIndex(
        "embedding", Metric.INNER_PRODUCT, ncentroids=32, nprobe=8,
        nsubvector=8, rerank_k=100, id_col="vec_id",
    ).fit(df)
    cells = list(fs.probe_cells(q))
    iq, back_i, scale = fs._pq_cell_luts(q, cells)
    fl, back_f, _ = IVFPQIndex._pq_cell_luts(fs, q, cells)
    codes = rng.integers(0, fs.ksub, (500, fs.nsubvector))
    offs = np.arange(fs.nsubvector) * fs.ksub
    cj = rng.integers(0, len(cells), 500)
    row = lambda t, j: t[np.zeros_like(j) if t.shape[0] == 1 else j]
    s_f = np.take_along_axis(row(fl, cj), codes + offs, axis=1).sum(1) + back_f[cj]
    s_i = np.take_along_axis(row(iq, cj), codes + offs, axis=1).sum(1) * scale + back_i[cj]
    pairs = rng.integers(0, 500, (2000, 2))
    agree = np.mean(
        np.sign(s_f[pairs[:, 0]] - s_f[pairs[:, 1]])
        == np.sign(s_i[pairs[:, 0]] - s_i[pairs[:, 1]])
    )
    assert agree >= 0.98, f"IP screen order agreement {agree}"

    # (b) end-to-end recall under IP
    qs = [(centers[c] + rng.normal(0, 1.0, 64)).tolist() for c in (5, 11, 23)]
    for cls, gate in ((IVFPQIndex, 0.9), (IVFPQFastScanIndex, 0.7)):
        idx = cls(
            "embedding", Metric.INNER_PRODUCT, ncentroids=32, nprobe=8,
            nsubvector=8, rerank_k=100, id_col="vec_id",
        ).fit(df)
        recs = []
        for qv in qs:
            exact = {
                r.vec_id
                for r in topk.search(
                    df, "embedding", qv, limit=10, id_col="vec_id",
                    metric=Metric.INNER_PRODUCT,
                ).collect()
            }
            got = {r.vec_id for r in idx.search(df, qv, limit=10).collect()}
            recs.append(len(got & exact) / 10)
        assert np.mean(recs) >= gate, f"{cls.__name__} IP recall {recs}"
    df.unpersist()
