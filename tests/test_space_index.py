"""Space ↔ ANN index lifecycle (engine.cc:280-308, 759-768, 1013-1084)."""

import numpy as np
import pytest

from vearch_spark.errors import SearchError
from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, Metric, SpaceSchema
from vearch_spark.space import Space

DIM = 8


def schema(index_type="IVFFLAT", threshold=50, params=None, dimension=DIM):
    params = params or {"ncentroids": 8, "nprobe": 3}
    return SpaceSchema(
        name="s",
        fields=[
            FieldSpec("field_int", FieldType.INT, index=IndexSpec("field_int", "SCALAR")),
            FieldSpec(
                "field_vector",
                FieldType.VECTOR,
                dimension=dimension,
                index=IndexSpec(
                    "field_vector",
                    index_type,
                    params={**params, "training_threshold": threshold},
                ),
            ),
        ],
    )


def rows(n, start=0):
    rng = np.random.default_rng(7)
    out = []
    for i in range(start, start + n):
        v = (rng.normal(0, 1, DIM) + (i % 4) * 3).tolist()
        out.append({"_id": str(i), "field_int": i, "field_vector": [float(x) for x in v]})
    return out


def code_rows(n, start=0):
    """Rows for a BINARYIVF field: DIM packed bytes (DIM * 8 bits)."""
    rng = np.random.default_rng(7)
    return [
        {"_id": str(i), "field_int": i,
         "field_vector": [int(b) for b in rng.integers(0, 256, DIM)]}
        for i in range(start, start + n)
    ]


def test_below_threshold_stays_brute(spark):
    sp = Space(spark, schema(threshold=100))
    sp.upsert(rows(30))
    sp.build_index("field_vector")
    assert sp.index_state("field_vector") == "UNINDEXED"
    # auto mode still works via brute force (engine.cc:286-293)
    out = sp.search(vector=[0.0] * DIM, limit=3)
    assert out.count() == 3


def test_build_and_auto_use(spark):
    sp = Space(spark, schema(threshold=50))
    sp.upsert(rows(200))
    sp.build_index("field_vector")
    assert sp.index_state("field_vector") == "INDEXED"
    q = [3.0] * DIM
    ann = {r._id for r in sp.search(vector=q, limit=10).collect()}
    exact = {r._id for r in sp.search(vector=q, limit=10, is_brute_search=1).collect()}
    # clustered fixture → pruned search finds most of the exact set
    assert len(ann & exact) >= 7


def test_force_index_without_training_errors(spark):
    sp = Space(spark, schema())
    sp.upsert(rows(30))
    with pytest.raises(SearchError):
        sp.search(vector=[0.0] * DIM, limit=3, is_brute_search=0)


def test_rebuild_after_append_covers_new_docs(spark):
    sp = Space(spark, schema(threshold=50))
    sp.upsert(rows(100))
    sp.build_index("field_vector")
    # new docs appended after the index was built
    sp.upsert(rows(20, start=1000))
    # rebuild (drop_before_rebuild analog) picks them up
    sp.build_index("field_vector")
    target = sp.df.where("_id = '1005'").collect()[0].field_vector
    got = sp.search(vector=[float(x) for x in target], limit=1).collect()
    assert got[0]._id == "1005"


def test_ivfpq_on_space(spark):
    sp = Space(spark, schema(index_type="IVFPQ", threshold=50))
    sp.upsert(rows(200))
    sp.build_index("field_vector", nsubvector=4)
    assert sp.index_state("field_vector") == "INDEXED"
    q = [3.0] * DIM
    out = sp.search(vector=q, limit=5)
    assert out.count() == 5


def test_hnsw_on_space(spark):
    """HNSW is a real graph index (operators/hnsw.py — sharded
    Malkov–Yashunin graphs, the reference's hnswlib-per-shard
    architecture, gamma_index_hnswlib.cc:130). The space verb builds
    it, search auto-dispatches to it, writes stay visible."""
    from vearch_spark.operators.hnsw import HNSWIndex

    sp = Space(spark, schema(index_type="HNSW", threshold=50))
    sp.upsert(rows(120))
    sp.build_index("field_vector", nlinks=8, efConstruction=32, nshards=2)
    assert sp.index_state("field_vector") == "INDEXED"
    assert isinstance(sp._indexes["field_vector"], HNSWIndex)
    assert sp.search(vector=[0.0] * DIM, limit=3).count() == 3


def test_writes_flow_into_trained_index(spark):
    """Every write path keeps a trained index consistent (the engine
    feeds the realtime index on AddOrUpdate and sets the delete bitmap
    on Delete — ANN search never sees stale docs): upsert inserts and
    updates, partial_update, delete, delete_by_query are all visible
    through is_brute_search=0 with no rebuild."""
    sp = Space(spark, schema(threshold=10))
    sp.upsert(rows(60))
    sp.build_index("field_vector")
    assert sp.index_state("field_vector") == "INDEXED"

    probe = [100.0] * DIM  # far from the corpus

    # insert + update through upsert
    sp.upsert([
        {"_id": "new1", "field_int": 1000, "field_vector": probe},
        {"_id": "5", "field_int": 5, "field_vector": [99.0] * DIM},
    ])
    got = [r._id for r in
           sp.search(vector=probe, limit=2, is_brute_search=0, nprobe=8).collect()]
    assert got == ["new1", "5"]

    # partial_update replaces the vector in-place
    sp.partial_update("7", {"field_vector": [98.0] * DIM})
    got = [r._id for r in
           sp.search(vector=probe, limit=3, is_brute_search=0, nprobe=8).collect()]
    assert got == ["new1", "5", "7"]

    # deletes tombstone index rows
    sp.delete(["new1"])
    sp.delete_by_query({"operator": "AND", "conditions": [
        {"field": "field_int", "operator": "=", "value": 5},
    ]})
    got = [r._id for r in
           sp.search(vector=probe, limit=2, is_brute_search=0, nprobe=8).collect()]
    assert got[0] == "7" and "new1" not in got and "5" not in got


# every physical type the Space index table serves
REOPEN_CASES = {
    "IVFFLAT": ("IVFFLAT", None),
    "IVFFLAT-two-level": (
        "IVFFLAT", {"ncentroids_l1": 2, "ncentroids_l2": 4, "nprobe": 3}
    ),
    "IVFPQ": ("IVFPQ", {"ncentroids": 8, "nprobe": 3, "nsubvector": 4}),
    "IVFPQFASTSCAN": ("IVFPQFASTSCAN", {"ncentroids": 8, "nprobe": 3, "nsubvector": 4}),
    "IVFRABITQ": ("IVFRABITQ", None),
    "SCANN": ("SCANN", {"ncentroids": 8, "nprobe": 3, "nsubvector": 4}),
    "BINARYIVF": ("BINARYIVF", {"ncentroids": 4, "nprobe": 4}),
    "HNSW": ("HNSW", {"nlinks": 8, "efConstruction": 32}),
    "DISKANN_STATIC": ("DISKANN_STATIC", {"R": 8, "L": 32}),
}


@pytest.mark.parametrize(
    "index_type,params", list(REOPEN_CASES.values()), ids=list(REOPEN_CASES)
)
def test_index_dump_reload_across_reopen(spark, tmp_path, index_type, params):
    """Path-backed spaces dump trained indexes beside the table
    (Engine::Dump engine.cc:1246) and reload them on open — but only a
    dump trained at the CURRENT table version; anything older reports
    UNINDEXED rather than silently serving pre-write state."""
    binary = index_type == "BINARYIVF"
    data = code_rows if binary else rows

    def sch():
        dim = DIM * 8 if binary else DIM
        return schema(index_type, threshold=50, params=params, dimension=dim)

    p = str(tmp_path / "dumped")
    sp = Space(spark, sch(), path=p)
    sp.upsert(data(200))
    sp.build_index("field_vector")
    assert sp.index_state("field_vector") == "INDEXED"

    reopened = Space(spark, sch(), path=p)
    assert reopened.index_state("field_vector") == "INDEXED"
    assert type(reopened._indexes["field_vector"]) is type(sp._indexes["field_vector"])
    q = data(1, start=3)[0]["field_vector"] if binary else [3.0] * DIM
    ann = {r._id for r in reopened.search(vector=q, limit=10).collect()}
    exact = {r._id for r in reopened.search(vector=q, limit=10, is_brute_search=1).collect()}
    assert len(ann & exact) >= 7

    # advance the table; the on-disk dump is now stale → a fresh open
    # must NOT load it
    reopened.upsert(data(1, start=500))
    assert reopened.index_state("field_vector") == "INDEXED"  # live model synced in-place
    stale_open = Space(spark, sch(), path=p)
    assert stale_open.index_state("field_vector") == "UNINDEXED"
    # rebuild re-dumps at the new version; the next open loads it again
    stale_open.build_index("field_vector")
    assert Space(spark, sch(), path=p).index_state("field_vector") == "INDEXED"


def test_ivfpqfastscan_alias_uses_4bit_codes(spark):
    """IVFPQFASTSCAN is a DISTINCT physical path since round 4: the
    real IVFPQFastScanIndex (4-bit codes + int8-quantized LUT screen,
    gamma_index_ivfpqfs.cc registers the SIMD 4-bit variant)."""
    from vearch_spark.operators.ivf import IVFPQFastScanIndex

    sp = Space(spark, schema(index_type="IVFPQFASTSCAN", threshold=50))
    sp.upsert(rows(200))
    sp.build_index("field_vector", nsubvector=4)
    model = sp._indexes["field_vector"]
    assert isinstance(model, IVFPQFastScanIndex)
    assert model.ksub == 16  # 2^4
    assert sp.search(vector=[3.0] * DIM, limit=5).count() == 5


def test_diskann_alias_serves_graph_index(spark):
    """DISKANN_STATIC (a disk-resident Vamana graph) is served by the
    sharded HNSW graph — the closest native strategy; its durable form
    already IS an on-disk graph read back per shard. IVF params in the
    declaration never reach the graph index: build_index passes each
    type only its own knob names."""
    from vearch_spark.operators.hnsw import HNSWIndex

    sp = Space(spark, schema(index_type="DISKANN_STATIC", threshold=50))
    sp.upsert(rows(200))
    sp.build_index("field_vector")
    assert isinstance(sp._indexes["field_vector"], HNSWIndex)
    got = sp.search(vector=[3.0] * DIM, limit=5, is_brute_search=0).collect()
    assert len(got) == 5


def test_binaryivf_space_end_to_end(spark):
    """A BINARYIVF-declared field carries packed d/8-byte codes
    (doc_query.go:296-301): upsert/search validate the byte length,
    brute force is the exact bit_count(xor) Hamming scan, build_index
    trains the real BinaryIVFIndex (never a float-L2 stand-in), and
    index results match the exact scan on this small space."""
    import numpy as np

    from vearch_spark.errors import DocumentError, SearchError
    from vearch_spark.operators.ivf import BinaryIVFIndex

    DIMBITS = 32  # -> 4-byte packed input
    sch = SpaceSchema(
        name="binspace",
        fields=[
            FieldSpec("code", FieldType.VECTOR, dimension=DIMBITS,
                      index=IndexSpec("code", "BINARYIVF",
                                      params={"ncentroids": 4, "nprobe": 4,
                                              "training_threshold": 10})),
        ],
    )
    sp = Space(spark, sch)
    rng = np.random.default_rng(17)
    codes = rng.integers(0, 256, size=(80, 4))
    sp.upsert([{"_id": str(i), "code": [int(b) for b in codes[i]]}
               for i in range(80)])
    with pytest.raises(DocumentError):  # 32 values: bits, not bytes
        sp.upsert([{"_id": "x", "code": [1] * DIMBITS}])

    q = [int(b) for b in codes[7]]
    brute = [(r._id, r._score)
             for r in sp.search(vector=q, limit=5, is_brute_search=1).collect()]
    assert brute[0] == ("7", 0.0) or brute[0][1] == 0  # self-match at 0
    with pytest.raises(SearchError):  # query length validated too
        sp.search(vector=[1] * DIMBITS, limit=5)

    sp.build_index("code")
    assert isinstance(sp._indexes["code"], BinaryIVFIndex)
    idx_hits = [(r._id, r._score)
                for r in sp.search(vector=q, limit=5, is_brute_search=0).collect()]
    assert idx_hits == brute  # nprobe=ncentroids: exact


def test_normalized_field_index_path_normalizes_query(spark):
    """format:normalization must hold on BOTH physical paths: an
    un-unit query against ingest-normalized docs has to rank exactly
    like the brute path the moment auto mode flips to the index
    (router-side query normalization, client.go:603-658)."""
    import numpy as np

    sch = SpaceSchema(
        name="normspace",
        fields=[
            FieldSpec("v", FieldType.VECTOR, dimension=8, normalize=True,
                      metric="InnerProduct",
                      index=IndexSpec("v", "IVFFLAT",
                                      params={"ncentroids": 4, "nprobe": 4,
                                              "training_threshold": 10})),
        ],
    )
    sp = Space(spark, sch)
    rng = np.random.default_rng(23)
    sp.upsert([{"_id": str(i), "v": [float(x) for x in rng.normal(0, 1, 8)]}
               for i in range(60)])
    raw_q = [float(5.0 * x) for x in rng.normal(0, 1, 8)]  # norm >> 1
    brute = [(r._id, round(r._score, 5))
             for r in sp.search(vector=raw_q, limit=5, is_brute_search=1).collect()]
    sp.build_index("v")
    idx = [(r._id, round(r._score, 5))
           for r in sp.search(vector=raw_q, limit=5, is_brute_search=0).collect()]
    assert idx == brute  # nprobe=ncentroids: exact; scores unit-scaled


def test_mixed_metric_fusion_rejected(spark):
    from vearch_spark.errors import SearchError
    from vearch_spark.operators.fusion import VectorQuery

    sch = SpaceSchema(
        name="mixed",
        fields=[
            FieldSpec("a", FieldType.VECTOR, dimension=4, metric="L2",
                      index=IndexSpec("a", "FLAT")),
            FieldSpec("b", FieldType.VECTOR, dimension=4, metric="InnerProduct",
                      index=IndexSpec("b", "FLAT")),
        ],
    )
    sp = Space(spark, sch)
    sp.upsert([{"_id": "1", "a": [1.0] * 4, "b": [1.0] * 4}])
    with pytest.raises(SearchError):
        sp.search(vectors=[VectorQuery("a", [1.0] * 4),
                           VectorQuery("b", [1.0] * 4)], limit=1)


def test_fused_search_rides_indexes_when_trained(spark):
    """Multi-vector fusion uses per-field ANN candidate lists once
    every fused field has a trained index (the reference's per-field
    ANN top-k + docid intersection + weighted re-rank,
    vector_manager.cc:1024-1087) — with nprobe=ncentroids the probes
    are exact, so results equal the brute fusion path bit-for-bit."""
    import numpy as np

    from vearch_spark.operators.fusion import VectorQuery

    sch = SpaceSchema(
        name="fuseidx",
        fields=[
            FieldSpec("a", FieldType.VECTOR, dimension=6,
                      index=IndexSpec("a", "IVFFLAT",
                                      params={"ncentroids": 4, "nprobe": 4,
                                              "training_threshold": 10})),
            FieldSpec("b", FieldType.VECTOR, dimension=6,
                      index=IndexSpec("b", "IVFFLAT",
                                      params={"ncentroids": 4, "nprobe": 4,
                                              "training_threshold": 10})),
        ],
    )
    sp = Space(spark, sch)
    rng = np.random.default_rng(29)
    sp.upsert([
        {"_id": str(i),
         "a": [float(x) for x in rng.normal(0, 1, 6)],
         "b": [float(x) for x in rng.normal(0, 1, 6)]}
        for i in range(80)
    ])
    qa = [float(x) for x in rng.normal(0, 1, 6)]
    qb = [float(x) for x in rng.normal(0, 1, 6)]
    vqs = [VectorQuery("a", qa), VectorQuery("b", qb)]
    brute = [(r._id, round(r._score, 6)) for r in
             sp.search(vectors=vqs, limit=5, is_brute_search=1).collect()]
    sp.build_index("a")
    sp.build_index("b")
    via_index = [(r._id, round(r._score, 6)) for r in
                 sp.search(vectors=vqs, limit=5, is_brute_search=0).collect()]
    assert via_index == brute


def test_fused_index_path_contracts(spark):
    """The fused index path keeps the single-field contracts: force-
    index with an untrained fused field raises (never a silent scan),
    and mismatched WeightedRanker params raise regardless of trained
    state (doc_query.go:201-216)."""
    import numpy as np

    from vearch_spark.errors import SearchError
    from vearch_spark.operators.fusion import VectorQuery

    sch = SpaceSchema(
        name="fusec",
        fields=[
            FieldSpec("a", FieldType.VECTOR, dimension=4,
                      index=IndexSpec("a", "IVFFLAT",
                                      params={"ncentroids": 2, "nprobe": 2,
                                              "training_threshold": 10})),
            FieldSpec("b", FieldType.VECTOR, dimension=4,
                      index=IndexSpec("b", "IVFFLAT",
                                      params={"ncentroids": 2, "nprobe": 2,
                                              "training_threshold": 10})),
        ],
    )
    sp = Space(spark, sch)
    rng = np.random.default_rng(31)
    sp.upsert([
        {"_id": str(i),
         "a": [float(x) for x in rng.normal(0, 1, 4)],
         "b": [float(x) for x in rng.normal(0, 1, 4)]}
        for i in range(40)
    ])
    vqs = [VectorQuery("a", [0.0] * 4), VectorQuery("b", [0.0] * 4)]
    sp.build_index("a")  # b stays untrained
    with pytest.raises(SearchError):
        sp.search(vectors=vqs, limit=3, is_brute_search=0)
    sp.build_index("b")
    with pytest.raises(SearchError):  # wrong ranker arity, trained or not
        sp.search(vectors=vqs, weights=[0.5], limit=3)
    with pytest.raises(SearchError):  # single-entry fusion rejected
        sp.search(vectors=vqs[:1], limit=3)
    assert len(sp.search(vectors=vqs, limit=3, is_brute_search=0).collect()) == 3


def _vectorless_space(spark, index_type, dim):
    sch = SpaceSchema(
        name="novec",
        fields=[
            FieldSpec("tag", FieldType.INT, index=IndexSpec("tag", "SCALAR")),
            FieldSpec("code", FieldType.VECTOR, dimension=dim,
                      index=IndexSpec("code", index_type,
                                      params={"ncentroids": 2, "nprobe": 2,
                                              "training_threshold": 2})),
        ],
    )
    return Space(spark, sch)


@pytest.mark.parametrize("use_index", [False, True])
def test_vectorless_doc_never_tops_hamming_search(spark, use_index):
    """A document with no code has no Hamming distance: single and
    batched search both rank it after every real hit (NULLs last), on
    the exact scan and through the BINARYIVF index alike."""
    sp = _vectorless_space(spark, "BINARYIVF", 16)
    sp.upsert([
        {"_id": "a", "tag": 1, "code": [0, 0]},
        {"_id": "b", "tag": 2, "code": [255, 255]},
        {"_id": "z", "tag": 3},
    ])
    brute = 1
    if use_index:
        sp.build_index("code")
        assert sp.index_state("code") == "INDEXED"
        brute = 0
    single = [(r._id, r._score)
              for r in sp.search([0, 0], is_brute_search=brute, limit=2).collect()]
    assert single == [("a", 0), ("b", 16)]
    batch = sp.search_batch([[0, 0], [255, 255]], is_brute_search=brute, limit=2)
    got = sorted((r.query_id, r._score, r._id) for r in batch.collect())
    assert got == [(0, 0, "a"), (0, 16, "b"), (1, 0, "b"), (1, 16, "a")]


def test_build_index_skips_vectorless_docs(spark):
    """IVF training and assignment index only the rows with a vector: a
    document without one must not break build_index, and never comes
    back from an index search."""
    sp = _vectorless_space(spark, "IVFFLAT", 2)
    sp.upsert([{"_id": str(i), "tag": i, "code": [float(i), 0.0]} for i in range(6)]
              + [{"_id": "nov", "tag": 99}])
    sp.build_index("code")
    assert sp.index_state("code") == "INDEXED"
    got = [r._id for r in sp.search([0.0, 0.0], is_brute_search=0, limit=10).collect()]
    assert got == ["0", "1", "2", "3", "4", "5"]


def test_upsert_without_vector_syncs_trained_index(spark):
    """A write that lands must not fail in the index sync: a new
    document without a vector stays out of the index, and an update
    that drops a document's vector drops the document from index
    search."""
    sp = _vectorless_space(spark, "IVFFLAT", 2)
    sp.upsert([{"_id": str(i), "tag": i, "code": [float(i), 0.0]} for i in range(6)])
    sp.build_index("code")
    sp.upsert([{"_id": "nov", "tag": 99}])
    sp.upsert([{"_id": "2", "tag": 2}])
    assert sp.count() == 7
    got = [r._id for r in sp.search([0.0, 0.0], is_brute_search=0, limit=10).collect()]
    assert got == ["0", "1", "3", "4", "5"]
