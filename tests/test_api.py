"""Request-level API parity: the reference's JSON payload shapes
(search_doc.go:55-94) drive the engine unchanged."""

import pytest

from vearch_spark import api
from vearch_spark.errors import DocumentError, SearchError
from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema
from vearch_spark.space import Space

DIM = 4


@pytest.fixture()
def space(spark):
    schema = SpaceSchema(
        name="api_docs",
        fields=[
            FieldSpec("field_int", FieldType.INT, index=IndexSpec("field_int", "SCALAR")),
            FieldSpec("field_string", FieldType.STRING, index=IndexSpec("field_string", "SCALAR")),
            FieldSpec("field_vector", FieldType.VECTOR, dimension=DIM,
                      index=IndexSpec("field_vector", "FLAT")),
        ],
    )
    sp = Space(spark, schema)
    api.upsert(sp, {"documents": [
        {"_id": str(i), "field_int": i, "field_string": f"s{i % 3}",
         "field_vector": [float(i), 0.0, 1.0, 0.0]}
        for i in range(20)
    ]})
    return sp


def test_search_request(space):
    req = {
        "vectors": [{"field": "field_vector", "feature": [5.0, 0.0, 1.0, 0.0]}],
        "filters": {"operator": "AND", "conditions": [
            {"field": "field_int", "operator": ">=", "value": 3}]},
        "limit": 3,
        "fields": ["_id", "field_int"],
    }
    hits = api.search(space, req).collect()
    assert [h._id for h in hits] == ["5", "4", "6"]
    assert hits[0]._score == 0.0
    assert set(hits[0].asDict()) == {"_id", "field_int", "_score"}


def test_search_request_score_band_and_bools(space):
    req = {
        "vectors": [{"field": "field_vector", "feature": [5.0, 0.0, 1.0, 0.0],
                     "max_score": 2.0, "min_score": 0.5}],
        "limit": 10,
        "l2_sqrt": True,
    }
    hits = api.search(space, req).collect()
    assert {h._id for h in hits} == {"3", "4", "6", "7"}  # sqrt dists 1,1,2,2
    assert all(0.5 <= h._score <= 2.0 for h in hits)


def test_search_request_multivector_ranker(space):
    req = {
        "vectors": [
            {"field": "field_vector", "feature": [5.0, 0.0, 1.0, 0.0]},
            {"field": "field_vector", "feature": [7.0, 0.0, 1.0, 0.0]},
        ],
        "ranker": {"type": "WeightedRanker", "params": [0.5, 0.5]},
        "limit": 3,
    }
    hits = api.search(space, req).collect()
    assert len(hits) == 3
    assert hits[0]._id == "6"  # midpoint of the two queries
    bad = dict(req, ranker={"type": "RRF"})
    with pytest.raises(SearchError):
        api.search(space, bad)
    bad2 = dict(req, ranker={"type": "WeightedRanker", "params": [1.0]})
    with pytest.raises(SearchError):
        api.search(space, bad2)


def test_query_request(space):
    got = api.query(space, {"document_ids": ["3", "9"]}).collect()
    assert sorted(r._id for r in got) == ["3", "9"]
    rows = api.query(space, {
        "filters": {"operator": "AND", "conditions": [
            {"field": "field_string", "operator": "IN", "value": ["s1"]}]},
        "limit": 4,
    }).collect()
    # ingest (_seq) order: seqs were assigned in string-_id order
    assert [int(r._id) for r in rows] == [1, 10, 13, 16]
    with pytest.raises(DocumentError):
        api.query(space, {"document_ids": ["1"], "filters": {"operator": "AND",
                          "conditions": []}})


def test_query_request_sort_and_paging(space):
    rows = api.query(space, {
        "filters": {"operator": "AND", "conditions": [
            {"field": "field_int", "operator": "<", "value": 10}]},
        "sort": [{"field_int": {"order": "desc"}}],
        "page_size": 3, "page_num": 2,
        "limit": 10,
    }).collect()
    assert [r.field_int for r in rows] == [6, 5, 4]


def test_delete_request(space):
    doomed = api.delete(space, {"filters": {"operator": "AND", "conditions": [
        {"field": "field_int", "operator": ">=", "value": 18}]}})
    assert sorted(doomed) == ["18", "19"]
    doomed2 = api.delete(space, {"document_ids": ["0", "1", "404"]})
    assert sorted(doomed2) == ["0", "1"]
    assert space.count() == 16
    with pytest.raises(DocumentError):
        api.delete(space, {})


def test_index_lifecycle_verbs(spark, tmp_path):
    # POST /index/{flush,forcemerge,rebuild} (doc_http.go:327-329)
    schema = SpaceSchema(
        name="idx_api",
        fields=[
            FieldSpec("v", FieldType.VECTOR, dimension=DIM,
                      index=IndexSpec("v", "IVFFLAT",
                                      params={"ncentroids": 4, "nprobe": 2,
                                              "training_threshold": 10})),
        ],
    )
    sp = Space(spark, schema, path=str(tmp_path / "idx_api"))
    api.upsert(sp, {"documents": [
        {"_id": str(i), "v": [float(i), 0.0, 1.0, 0.0]} for i in range(30)
    ]})
    api.index_flush(sp)  # durable-writes no-op, must not raise

    rebuilt = api.index_rebuild(sp, {"drop_before_rebuild": True, "limit_cpu": 2})
    assert rebuilt == ["v"]
    assert "v" in sp._indexes

    # a full overwrite wave supersedes every v1 bucket; forcemerge
    # (segment compaction analog) reclaims the dead version dir
    api.upsert(sp, {"documents": [
        {"_id": str(i), "v": [float(i) + 1.0, 0.0, 1.0, 0.0]} for i in range(30)
    ]})
    assert api.index_forcemerge(sp) >= 1
    # the trained index must survive the vacuum: its relation was
    # lineage-cut before the old version files were deleted, so a
    # search (which may recompute cached blocks) still serves correctly
    hits = sp.search(vector=[6.0, 0.0, 1.0, 0.0], limit=1).collect()
    assert hits and hits[0]._id == "5"


def test_hnsw_index_survives_vacuum(spark, tmp_path):
    """forcemerge/vacuum must cut the HNSW graph's lineage into the
    reclaimed version dirs (the `_graph` analog of the IVF `_assigned`
    checkpoint) — a post-vacuum search recomputing an evicted cached
    block must never touch deleted files."""
    schema = SpaceSchema(
        name="hnsw_vac",
        fields=[
            FieldSpec("v", FieldType.VECTOR, dimension=DIM,
                      index=IndexSpec("v", "HNSW",
                                      params={"nlinks": 8, "efConstruction": 32,
                                              "nshards": 2,
                                              "training_threshold": 10})),
        ],
    )
    sp = Space(spark, schema, path=str(tmp_path / "hnsw_vac"))
    api.upsert(sp, {"documents": [
        {"_id": str(i), "v": [float(i), 0.0, 1.0, 0.0]} for i in range(30)
    ]})
    sp.build_index("v")
    api.upsert(sp, {"documents": [
        {"_id": str(i), "v": [float(i) + 1.0, 0.0, 1.0, 0.0]} for i in range(30)
    ]})
    assert api.index_forcemerge(sp) >= 1
    plan = sp._indexes["v"]._base._jdf.queryExecution().analyzed().toString()
    assert "parquet" not in plan.lower()  # lineage cut, not scan-backed
    hits = sp.search(vector=[6.0, 0.0, 1.0, 0.0], limit=1,
                     is_brute_search=0).collect()
    assert hits and hits[0]._id == "5"


def test_hnsw_space_via_api(spark):
    """A space declared with an HNSW vector index serves the same JSON
    search payload through the real graph index after build_index
    (index params: space.go:345-374)."""
    from vearch_spark.operators.hnsw import HNSWIndex

    schema = SpaceSchema(
        name="api_hnsw",
        fields=[
            FieldSpec("field_int", FieldType.INT, index=IndexSpec("field_int", "SCALAR")),
            FieldSpec(
                "field_vector", FieldType.VECTOR, dimension=DIM,
                index=IndexSpec(
                    "field_vector", "HNSW",
                    params={"nlinks": 8, "efConstruction": 32, "nshards": 2},
                ),
            ),
        ],
    )
    sp = Space(spark, schema)
    api.upsert(sp, {"documents": [
        {"_id": str(i), "field_int": i, "field_vector": [float(i), 0.0, 1.0, 0.0]}
        for i in range(120)
    ]})
    sp.build_index("field_vector", training_threshold=100)
    assert isinstance(sp._indexes["field_vector"], HNSWIndex)
    out = api.search(sp, {
        "vectors": [{"field": "field_vector", "feature": [5.0, 0.0, 1.0, 0.0]}],
        "filters": {"operator": "AND", "conditions": [
            {"field": "field_int", "operator": ">=", "value": 3}]},
        "limit": 3,
        "fields": ["_id", "field_int"],
        # HNSW's index_params knob is efSearch (doc_query.go:1408-1475)
        "index_params": {"efSearch": 64},
    }).collect()
    # deterministic graph + 1-d line corpus: nearest ids with
    # field_int >= 3 to feature 5.0 are exactly 5, 4/6 (tie → id order)
    assert [r._id for r in out] == ["5", "4", "6"]
    assert all(r.field_int >= 3 for r in out)


def test_space_config_get_update(spark):
    """GET/POST /config/{db}/{space} parity (test_module_config.py):
    partial-merge updates, GET echoes, refresh_interval default 1000
    (space.go:71) and create-time override incl. -1 = no background
    refresh."""
    schema = SpaceSchema(
        name="cfg",
        fields=[FieldSpec("field_int", FieldType.INT,
                          index=IndexSpec("field_int", "SCALAR"))],
    )
    sp = Space(spark, schema)
    assert api.get_config(sp)["refresh_interval"] == 1000
    assert "engine_cache_size" not in api.get_config(sp)  # unset omitted

    cache = 512 * 1024
    for i in range(3):
        got = api.update_config(sp, {"engine_cache_size": cache + i})
        assert got["engine_cache_size"] == cache + i
        assert api.get_config(sp)["engine_cache_size"] == cache + i
        # partial merge: the untouched key is kept
        assert api.get_config(sp)["refresh_interval"] == 1000

    for iv in (-1, 0, 2000):
        assert api.update_config(sp, {"refresh_interval": iv})["refresh_interval"] == iv
        assert sp.refresh_interval == iv
        assert api.get_config(sp)["engine_cache_size"] == cache + 2

    api.update_config(sp, {"unknown_knob": 1})  # ignored like Go unmarshal
    with pytest.raises(DocumentError):
        api.update_config(sp, {"refresh_interval": "fast"})
    with pytest.raises(DocumentError):
        api.update_config(sp, {"enable_id_cache": 1})

    created = Space(spark, schema, refresh_interval=-1)
    assert api.get_config(created)["refresh_interval"] == -1


def test_update_space_partition_num(spark, tmp_path):
    """PUT /dbs/{db}/spaces/{space} partition growth: grow re-buckets
    the table consistently with the routing expr in one explicit admin
    commit; reduction is rejected (the reference's `code != 0`)."""
    schema = SpaceSchema(
        name="grow",
        fields=[FieldSpec("field_int", FieldType.INT,
                          index=IndexSpec("field_int", "SCALAR"))],
    )
    sp = Space(spark, schema, path=str(tmp_path / "grow"), n_buckets=2)
    api.upsert(sp, {"documents": [
        {"_id": str(i), "field_int": i} for i in range(40)
    ]})
    assert api.update_space(sp, {"partition_num": 4}) == {"partition_num": 4}
    assert sp._manifest["n_buckets"] == 4
    assert sp.count() == 40
    # id routing stays consistent with the new expr: point reads and
    # bucket-scoped writes still find their docs
    assert [r.field_int for r in sp.get(["7"]).collect()] == [7]
    sp.partial_update("7", {"field_int": 700})
    assert [r.field_int for r in sp.get(["7"]).collect()] == [700]
    with pytest.raises(DocumentError):
        api.update_space(sp, {"partition_num": 3})
    with pytest.raises(DocumentError):
        api.update_space(sp, {})


def test_search_badcase_matrix(space):
    """The reference's search badcase matrix
    (test_document_search.py:664-686) — every malformed request raises
    a typed engine error, never a raw Spark analysis exception."""
    from vearch_spark.errors import FilterError, SchemaError

    ok = [1.0, 0.0, 0.0, 0.0]
    cases = {
        "empty_query": ({}, SearchError),
        "empty_vectors": ({"vectors": []}, SearchError),
        "wrong_vector_name": (
            {"vectors": [{"field": "nope", "feature": ok}]}, SchemaError),
        "vector_on_scalar_field": (
            {"vectors": [{"field": "field_int", "feature": ok}]}, SearchError),
        "wrong_vector_length": (
            {"vectors": [{"field": "field_vector", "feature": ok[:3]}]},
            SearchError),
        "empty_vector": (
            {"vectors": [{"field": "field_vector", "feature": []}]},
            SearchError),
        "wrong_range_filter_name": (
            {"vectors": [{"field": "field_vector", "feature": ok}],
             "filters": {"operator": "AND", "conditions": [
                 {"field": "ghost", "operator": ">=", "value": 1}]}},
            (SchemaError, FilterError)),
        "wrong_term_filter_numeric": (
            {"vectors": [{"field": "field_vector", "feature": ok}],
             "filters": {"operator": "AND", "conditions": [
                 {"field": "field_int", "operator": "IN", "value": [1]}]}},
            FilterError),
        # multivector entries are validated per-entry too
        "fusion_scalar_field": (
            {"vectors": [{"field": "field_vector", "feature": ok},
                         {"field": "field_int", "feature": ok}]},
            SearchError),
        "fusion_wrong_length": (
            {"vectors": [{"field": "field_vector", "feature": ok},
                         {"field": "field_vector", "feature": ok[:2]}]},
            SearchError),
    }
    for name, (req, exc) in cases.items():
        with pytest.raises(exc):
            api.search(space, req).collect()


def test_upsert_badcase_matrix(spark):
    """The reference's upsert badcase classes with an analog here
    (test_document_upsert.py:354-371): unknown field and wrong vector
    dimension are rejected per-doc at parse (MapDocument doc_parse.go:56,
    CheckDoc engine.cc:787-829), as typed errors."""
    schema = SpaceSchema(
        name="upsert_bad",
        fields=[
            FieldSpec("field_int", FieldType.INT,
                      index=IndexSpec("field_int", "SCALAR")),
            FieldSpec("v", FieldType.VECTOR, dimension=DIM,
                      index=IndexSpec("v", "FLAT")),
        ],
    )
    sp = Space(spark, schema)
    ok = [1.0, 0.0, 0.0, 0.0]
    with pytest.raises(DocumentError):
        api.upsert(sp, {"documents": [
            {"_id": "1", "field_int": 1, "ghost": 2, "v": ok}]})
    with pytest.raises(DocumentError):
        api.upsert(sp, {"documents": [
            {"_id": "2", "field_int": 1, "v": ok[:3]}]})
    with pytest.raises(DocumentError):  # one bad doc rejects the batch
        api.upsert(sp, {"documents": [
            {"_id": "3", "field_int": 1, "v": ok},
            {"_id": "4", "field_int": 1, "v": []}]})
    assert sp.count() == 0
    assert api.upsert(sp, {"documents": [
        {"_id": "5", "field_int": 1, "v": ok}]}) == 1


def test_query_get_vector_value(space):
    """vector_value opts vector columns into query/get output
    (doc_query.go:1445-1447), same contract as the search verb."""
    got = api.query(space, {"document_ids": ["3"], "vector_value": True}).collect()
    assert got[0].field_vector == [3.0, 0.0, 1.0, 0.0]
    rows = api.query(space, {
        "filters": {"operator": "AND", "conditions": [
            {"field": "field_int", "operator": "=", "value": 4}]},
        "vector_value": True,
    }).collect()
    assert rows[0].field_vector == [4.0, 0.0, 1.0, 0.0]
    plain = api.query(space, {"document_ids": ["3"]}).collect()
    assert "field_vector" not in plain[0].asDict()  # default excludes vectors
    with pytest.raises(DocumentError):
        space.partial_update("3", {"field_vector": [1.0, 2.0]})  # wrong dim


def test_single_vector_ranker_ignored(space):
    """The router applies a ranker only when >1 vectors
    (doc_query.go:1488-1493) — a single-vector search carrying a
    mismatched WeightedRanker is served, not rejected, with the plain
    L2 score (test_module_vector.py::test_search_score does exactly
    this with params [0.8, 0.2])."""
    hits = api.search(space, {
        "vectors": [{"field": "field_vector", "feature": [5.0, 0.0, 1.0, 0.0]}],
        "limit": 1,
        "fields": ["field_int"],
        "ranker": {"type": "WeightedRanker", "params": [0.8, 0.2]},
    }).collect()
    assert hits[0].field_int == 5 and hits[0]._score == 0.0


def test_upsert_duplicate_ids_in_batch(spark):
    """Duplicate _ids within ONE upsert batch collapse to the LAST
    occurrence (test_document_upsert.py::test_vearch_document_upsert_duplicate
    stores 2 docs from 3 submitted)."""
    schema = SpaceSchema(
        name="dup_batch",
        fields=[FieldSpec("field_int", FieldType.INT,
                          index=IndexSpec("field_int", "SCALAR"))],
    )
    sp = Space(spark, schema)
    api.upsert(sp, {"documents": [
        {"_id": "00001", "field_int": 0},
        {"_id": "00001", "field_int": 1},
        {"_id": "00002", "field_int": 2},
    ]})
    assert sp.count() == 2
    got = {r._id: r.field_int for r in sp.df.select("_id", "field_int").collect()}
    assert got == {"00001": 1, "00002": 2}


def test_config_update_is_atomic(spark):
    """A request mixing valid and invalid keys applies NOTHING
    (the reference unmarshals then applies — all-or-none); path is
    reported but not updatable."""
    schema = SpaceSchema(
        name="cfg_atomic",
        fields=[FieldSpec("field_int", FieldType.INT,
                          index=IndexSpec("field_int", "SCALAR"))],
    )
    sp = Space(spark, schema)
    with pytest.raises(DocumentError):
        api.update_config(sp, {"engine_cache_size": 1024,
                               "refresh_interval": "fast"})
    assert "engine_cache_size" not in api.get_config(sp)  # not half-applied
    api.update_config(sp, {"path": "/elsewhere"})  # ignored, not applied
    assert api.get_config(sp).get("path") != "/elsewhere"
    with pytest.raises(DocumentError):
        api.update_space(sp, {"partition_num": "four"})
    with pytest.raises(DocumentError):
        api.update_space(sp, {"partition_num": None})


def test_upsert_scalar_vector_value_typed_error(spark):
    schema = SpaceSchema(
        name="scalar_vec",
        fields=[FieldSpec("v", FieldType.VECTOR, dimension=DIM,
                          index=IndexSpec("v", "FLAT"))],
    )
    sp = Space(spark, schema)
    with pytest.raises(DocumentError):
        api.upsert(sp, {"documents": [{"_id": "1", "v": 3.0}]})
    api.upsert(sp, {"documents": [{"_id": "1", "v": [1.0] * DIM}]})
    with pytest.raises(DocumentError):
        sp.partial_update("1", {"v": 3.0})


def test_partition_grow_persists_on_empty_space(spark, tmp_path):
    """Growing partition_num on an empty-but-committed space persists
    the new count to the manifest — a reload must not resurrect the
    old routing."""
    schema = SpaceSchema(
        name="grow_empty",
        fields=[FieldSpec("field_int", FieldType.INT,
                          index=IndexSpec("field_int", "SCALAR"))],
    )
    p = str(tmp_path / "grow_empty")
    sp = Space(spark, schema, path=p, n_buckets=2)
    api.upsert(sp, {"documents": [{"_id": "1", "field_int": 1}]})
    api.delete(sp, {"document_ids": ["1"]})
    assert api.update_space(sp, {"partition_num": 4}) == {"partition_num": 4}
    reloaded = Space(spark, schema, path=p)
    assert reloaded.n_buckets == 4


def test_fused_search_honors_is_brute_search(spark):
    """is_brute_search must reach the fused path: 0 with an untrained
    fused field is a typed error (never a silent full scan), 1 forces
    the exact path."""
    sch = SpaceSchema(name="fusedapi", fields=[
        FieldSpec("a", FieldType.VECTOR, dimension=2,
                  index=IndexSpec("a", "IVFFLAT")),
        FieldSpec("b", FieldType.VECTOR, dimension=2,
                  index=IndexSpec("b", "IVFFLAT")),
    ])
    sp = Space(spark, sch)
    sp.upsert([{"_id": str(i), "a": [float(i), 0.0], "b": [0.0, float(i)]}
               for i in range(5)])
    req = {
        "vectors": [
            {"field": "a", "feature": [1.0, 0.0]},
            {"field": "b", "feature": [0.0, 1.0]},
        ],
        "limit": 3,
    }
    # untrained indexes + forced-index → typed error through the API
    with pytest.raises(SearchError, match="trained"):
        api.search(sp, {**req, "is_brute_search": 0})
    # forced-exact works and returns fused hits
    out = api.search(sp, {**req, "is_brute_search": 1})
    assert out.count() == 3


def test_list_and_delete_indexes(spark):
    """GET /dbs/{db}/spaces/{space}/indexes + DELETE .../indexes/{name}
    (cluster_api.go:291-294; test_module_space_indexes.py:311-324 —
    inline field indexes appear in the list; RemoveIndex
    space_service.go:1727-1782 — empty name rejected, unknown name
    errors, the field's inline index is cleared so it cannot
    resurrect)."""
    schema = SpaceSchema(
        name="idx_list",
        fields=[
            FieldSpec("field_int", FieldType.INT,
                      index=IndexSpec("idx_int", "SCALAR")),
            FieldSpec("field_str", FieldType.STRING),
            FieldSpec("v", FieldType.VECTOR, dimension=DIM,
                      index=IndexSpec("idx_vec", "FLAT")),
        ],
    )
    sp = Space(spark, schema)
    out = api.list_indexes(sp, detail=True, db_name="db1")
    assert out["db_name"] == "db1" and out["space_name"] == "idx_list"
    by_name = {i["name"]: i for i in out["indexes"]}
    assert set(by_name) == {"idx_int", "idx_vec"}
    assert by_name["idx_int"]["state"] == "INDEXED"   # scalar: no training
    assert by_name["idx_vec"]["state"] == "UNINDEXED"  # vector: not built

    # dynamically added index shows up (POST /indexes twin)
    sp.add_index("field_str", "SCALAR")
    assert "field_str" in {i["name"] for i in api.list_indexes(sp)["indexes"]}

    # delete: scalar index removal makes the field unfilterable again
    api.delete_index(sp, "idx_int")
    assert "idx_int" not in {i["name"] for i in api.list_indexes(sp)["indexes"]}
    api.upsert(sp, {"documents": [
        {"_id": "1", "field_int": 5, "field_str": "a", "v": [0.1] * DIM}]})
    with pytest.raises(Exception):
        sp.query(flt={"operator": "AND", "conditions": [
            {"operator": ">", "field": "field_int", "value": 1}]}, limit=10)

    # validation surface
    with pytest.raises(DocumentError):
        sp.remove_index("")
    with pytest.raises(DocumentError):
        sp.remove_index("nope")


def test_search_batched_qxdim_feature(space):
    """A single vectors entry with a q×dim flat feature = req_num
    independent top-k queries (parseVectors doc_query.go:255-338):
    one row per (query_id, hit), each query's hits exact."""
    req = {
        "vectors": [{
            "field": "field_vector",
            # two queries: near doc 5 and near doc 12
            "feature": [5.0, 0.0, 1.0, 0.0] + [12.0, 0.0, 1.0, 0.0],
        }],
        "limit": 2,
    }
    rows = api.search(space, req).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    assert sorted(r._id for r in by_q[0]) == ["4", "5"] or \
        [r._id for r in sorted(by_q[0], key=lambda r: r._score)][0] == "5"
    assert [r._id for r in sorted(by_q[1], key=lambda r: r._score)][0] == "12"
    # list-of-lists shape parses identically
    req2 = {
        "vectors": [{"field": "field_vector",
                     "feature": [[5.0, 0.0, 1.0, 0.0], [12.0, 0.0, 1.0, 0.0]]}],
        "limit": 2,
    }
    rows2 = api.search(space, req2).collect()
    assert sorted((r.query_id, r._id) for r in rows2) == \
        sorted((r.query_id, r._id) for r in rows)
    # filters apply to every query in the batch
    req3 = dict(req, filters={"operator": "AND", "conditions": [
        {"field": "field_int", "operator": ">=", "value": 10}]})
    rows3 = api.search(space, req3).collect()
    assert all(int(r._id) >= 10 for r in rows3)


def test_search_batched_rejections(space):
    base = {"vectors": [{"field": "field_vector",
                         "feature": [1.0, 0.0, 1.0, 0.0] * 3}], "limit": 2}
    with pytest.raises(SearchError):
        api.search(space, dict(base, sort=[{"field_int": {"order": "asc"}}]))
    with pytest.raises(SearchError):
        api.search(space, {
            "vectors": [
                {"field": "field_vector", "feature": [1.0, 0.0, 1.0, 0.0] * 2},
                {"field": "field_vector", "feature": [2.0, 0.0, 1.0, 0.0]},
            ],
        })
    # a wrong-length flat feature is NOT a batch — the single-query
    # path rejects it with the dimension error
    with pytest.raises(SearchError):
        api.search(space, {"vectors": [
            {"field": "field_vector", "feature": [1.0, 2.0, 3.0]}]})


def test_search_batched_through_ivf_index(spark):
    """Auto mode routes a batched request through a trained float-IVF
    index (index.search_batch — broadcast probe relation), matching
    the exact batch scan."""
    from vearch_spark import api as _api

    schema = SpaceSchema(
        name="batch_ivf",
        fields=[FieldSpec("v", FieldType.VECTOR, dimension=DIM,
                          index=IndexSpec("v", "IVFFLAT",
                                          params={"ncentroids": 4, "nprobe": 4}))],
    )
    sp = Space(spark, schema)
    _api.upsert(sp, {"documents": [
        {"_id": str(i), "v": [float(i), 0.0, 1.0, 0.0]} for i in range(40)]})
    req = {"vectors": [{"field": "v",
                        "feature": [3.0, 0.0, 1.0, 0.0, 30.0, 0.0, 1.0, 0.0]}],
           "limit": 3}
    exact = sorted((r.query_id, r._id) for r in _api.search(
        sp, dict(req, is_brute_search=1)).collect())
    sp.build_index("v", training_threshold=10)
    auto = sorted((r.query_id, r._id) for r in _api.search(sp, req).collect())
    assert auto == exact
    # nprobe=all cells makes the index path exhaustive
    forced = sorted((r.query_id, r._id) for r in _api.search(
        sp, dict(req, is_brute_search=0, index_params={"nprobe": 4})).collect())
    assert forced == exact


def test_search_batched_binary_hamming(spark):
    """req_num batching on a BINARYIVF (Hamming) field — parseVectors
    accepts q×(d/8) byte codes for binary fields too (doc_query.go:
    296-309). The batch must score HAMMING distance, matching the
    single-query verb per query — before the fix the nested-list parse
    bypassed the field-spec lookup and the batch scored L2² over the
    packed bytes (wrong metric, wrong ranking, no error)."""
    import numpy as np

    DIMBITS = 32  # -> 4 packed bytes
    sch = SpaceSchema(
        name="binbatch",
        fields=[FieldSpec("code", FieldType.VECTOR, dimension=DIMBITS,
                          index=IndexSpec("code", "BINARYIVF",
                                          params={"ncentroids": 4, "nprobe": 4,
                                                  "training_threshold": 10}))],
    )
    sp = Space(spark, sch)
    rng = np.random.default_rng(23)
    codes = rng.integers(0, 256, size=(60, 4))
    api.upsert(sp, {"documents": [
        {"_id": str(i), "code": [int(b) for b in codes[i]]} for i in range(60)]})

    q0, q1 = [int(b) for b in codes[7]], [int(b) for b in codes[30]]
    singles = []
    for q in (q0, q1):
        hits = api.search(sp, {"vectors": [{"field": "code", "feature": q}],
                               "limit": 3, "is_brute_search": 1}).collect()
        singles.append([(r._id, r._score) for r in hits])
    assert singles[0][0] == ("7", 0)  # Hamming self-match

    # flat q×(d/8) feature
    req = {"vectors": [{"field": "code", "feature": q0 + q1}],
           "limit": 3, "is_brute_search": 1}
    rows = api.search(sp, req).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r._id, r._score))
    for qid in (0, 1):
        by_q[qid].sort(key=lambda t: (t[1], t[0]))
        assert by_q[qid] == singles[qid]

    # nested list-of-codes shape parses identically (the ADVICE repro)
    req2 = {"vectors": [{"field": "code", "feature": [q0, q1]}],
            "limit": 3, "is_brute_search": 1}
    rows2 = api.search(sp, req2).collect()
    assert sorted((r.query_id, r._id, r._score) for r in rows2) == \
        sorted((r.query_id, r._id, r._score) for r in rows)

    # trained BINARYIVF serves the batch through the index
    # (BinaryIVFIndex.search_batch); nprobe=ncentroids ⇒ exact
    sp.build_index("code")
    auto = api.search(sp, {"vectors": [{"field": "code", "feature": q0 + q1}],
                           "limit": 3}).collect()
    got = {}
    for r in auto:
        got.setdefault(r.query_id, []).append((r._id, float(r._score)))
    for qid in (0, 1):
        got[qid].sort(key=lambda t: (t[1], t[0]))
        assert got[qid] == [(i, float(s)) for i, s in singles[qid]]
    forced = api.search(sp, {"vectors": [{"field": "code", "feature": q0 + q1}],
                             "limit": 3, "is_brute_search": 0}).collect()
    assert sorted((r.query_id, r._id) for r in forced) == \
        sorted((r.query_id, r._id) for r in auto)


def test_master_verbs_payload_parity(spark, tmp_path):
    """The master's db/space/alias routes (cluster_api.go:300-339)
    against a durable Registry: create-space via the reference's JSON
    body (space.go:464-559), alias CRUD, describe, cascade on space
    delete — then a fresh Registry.load sees the same catalog."""
    from vearch_spark.registry import Registry
    from vearch_spark.errors import SchemaError

    reg = Registry(spark, root=str(tmp_path / "master"))
    assert api.create_db(reg, "db1") == {"name": "db1"}
    assert api.list_dbs(reg) == [{"name": "db1"}]

    payload = {
        "name": "ts_space",
        "partition_num": 4,
        "fields": [
            {"name": "field_int", "type": "integer", "index": {"type": "SCALAR"}},
            {"name": "field_vector", "type": "vector", "dimension": 4,
             "index": {"type": "FLAT", "params": {"metric_type": "L2"}}},
        ],
    }
    sp = api.create_space(reg, "db1", payload)
    assert sp.n_buckets == 4
    api.upsert(sp, {"documents": [
        {"_id": str(i), "field_int": i, "field_vector": [float(i), 0, 0, 0]}
        for i in range(10)]})
    desc = api.describe_space(reg, "db1", "ts_space")
    assert desc["doc_count"] == 10

    assert api.create_alias(reg, "prod", "db1", "ts_space")["space_name"] == "ts_space"
    api.modify_alias(reg, "prod", "db1", "ts_space")
    assert api.get_alias(reg, "prod")["db_name"] == "db1"
    assert api.get_alias(reg) == [
        {"name": "prod", "db_name": "db1", "space_name": "ts_space"}]
    # alias resolves through the document verbs
    hits = api.search(reg.space("db1", "prod"), {
        "vectors": [{"field": "field_vector", "feature": [3.0, 0, 0, 0]}],
        "limit": 1})
    assert hits.collect()[0]._id == "3"

    # restart: the catalog (db + space + alias) reattaches
    reg2 = Registry.load(spark, reg.root)
    assert api.list_spaces(reg2, "db1") == [{"name": "ts_space"}]
    assert api.get_alias(reg2, "prod")["space_name"] == "ts_space"

    api.delete_space(reg2, "db1", "ts_space")
    assert api.get_alias(reg2) == []  # cascade
    with pytest.raises(SchemaError):
        api.delete_db(reg2, "nope")
    api.delete_db(reg2, "db1")
    assert api.list_dbs(reg2) == []
    with pytest.raises(SchemaError):
        api.delete_alias(reg2, "prod")  # already cascaded away


def test_cluster_health_and_stats(spark, tmp_path):
    """GET /cluster/health + /cluster/stats (cluster_api.go:356-357):
    per-db/space doc counts, detail adds bucket count + index states,
    stats reports real on-disk bytes for path-backed spaces."""
    from vearch_spark.registry import Registry

    reg = Registry(spark, root=str(tmp_path / "mon"))
    api.create_db(reg, "db1")
    sp = api.create_space(reg, "db1", {
        "name": "s1", "partition_num": 4,
        "fields": [
            {"name": "field_int", "type": "integer", "index": {"type": "SCALAR"}},
            {"name": "v", "type": "vector", "dimension": 4,
             "index": {"type": "IVFFLAT",
                       "params": {"ncentroids": 2, "training_threshold": 5}}},
        ]})
    api.upsert(sp, {"documents": [
        {"_id": str(i), "field_int": i, "v": [float(i), 0, 0, 0]}
        for i in range(8)]})
    health = api.cluster_health(reg, detail=True)
    assert health == [{
        "db_name": "db1", "status": "green",
        "spaces": [{"name": "s1", "doc_num": 8, "status": "green",
                    "partition_num": 4, "indexes": {"v": "UNINDEXED"}}],
    }]
    sp.build_index("v")
    assert api.cluster_health(reg, db_name="db1", space_name="s1",
                              detail=True)[0]["spaces"][0]["indexes"] == {
        "v": "INDEXED"}
    stats = api.cluster_stats(reg)
    assert stats[0]["doc_num"] == 8 and stats[0]["disk_bytes"] > 0
    assert stats[0]["path"].endswith("db1/s1")


def test_search_timeout_param_validation(space):
    """?timeout= badcase parity (test_document_search.py
    wrong_timeout_param: 10.5 rejects): integer milliseconds accepted
    (advisory under Spark), fractional / non-numeric / bool reject."""
    base = {"vectors": [{"field": "field_vector",
                         "feature": [5.0, 0.0, 1.0, 0.0]}], "limit": 1}
    assert api.search(space, dict(base, timeout=1000)).count() == 1
    assert api.search(space, dict(base, timeout="10")).count() == 1
    for bad in (10.5, "10.5", "soon", True):
        with pytest.raises(SearchError, match="timeout"):
            api.search(space, dict(base, timeout=bad))


def test_timeout_overflow_and_health_unknown_targets(spark, space, tmp_path):
    """Review fixes: overflowing/infinite timeout values reject with
    the typed error (not OverflowError); cluster_health raises for
    unknown db/space filters instead of reading as healthy-and-empty."""
    from vearch_spark.errors import SchemaError
    from vearch_spark.registry import Registry

    base = {"vectors": [{"field": "field_vector",
                         "feature": [5.0, 0.0, 1.0, 0.0]}], "limit": 1}
    for bad in ("1e400", "inf", float("inf")):
        with pytest.raises(SearchError, match="timeout"):
            api.search(space, dict(base, timeout=bad))

    reg = Registry(spark, root=str(tmp_path / "h2"))
    api.create_db(reg, "db1")
    with pytest.raises(SchemaError):
        api.cluster_health(reg, db_name="dbl")
    with pytest.raises(SchemaError):
        api.cluster_health(reg, db_name="db1", space_name="nosuch")
    assert api.cluster_health(reg, db_name="db1") == [
        {"db_name": "db1", "status": "green", "spaces": []}]


def test_timeout_validated_on_query_and_delete(space):
    """The ?timeout= badcase applies to the query and delete verbs too
    (test_document_query.py wrong_timeout_param)."""
    with pytest.raises(SearchError, match="timeout"):
        api.query(space, {"document_ids": ["0"], "timeout": 10.5})
    with pytest.raises(SearchError, match="timeout"):
        api.delete(space, {"document_ids": ["0"], "timeout": "x"})
    assert api.query(space, {"document_ids": ["0"], "timeout": 1}).count() == 1
