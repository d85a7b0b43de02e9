"""Point reads and writes on a path-backed space: the Spark jobs each
verb runs, bucket routing against the committed layout, the kept read
schema, and the ``api.delete`` contract.

The reference routes a get or a delete straight to the hash slot its
ids map to (doc_http.go:584-586) and deletes by setting a bitmap in one
pass (engine.cc:869-900); these tests pin that the Spark form does not
add bookkeeping jobs on top of the work itself.
"""

import datetime as dt
import json
import os
import uuid
from functools import reduce

import numpy as np
import pytest
from pyspark.sql import functions as F

from vearch_spark import api
from vearch_spark.errors import DocumentError
from vearch_spark.schema import (
    ID_FIELD,
    PARTITION_FIELD,
    FieldSpec,
    FieldType,
    IndexSpec,
    SpaceSchema,
)
from vearch_spark.space import GET_BY_IDS_CAP, Space

DIM = 8
NCENTROIDS = 8
N_BUCKETS = 8
STRINGS = [f"s{i:02d}" for i in range(8)]

# jobs measured on this space shape (Spark 4.1, AQE on): a delete by ids
# runs its matched-id collect, the bucket rewrite and one index swap; a
# list upsert runs the merge join, the write and one index swap, each
# split into AQE query-stage jobs. The swap filters the index relation
# and the touched buckets by the batch's Python-side ids, with no
# anti-join (12 jobs when it joined against a distinct of the batch)
DELETE_JOBS = 4
UPSERT_JOBS = 10


def f1_schema() -> SpaceSchema:
    """The FIXTURES F1 document shape with an IVFFLAT vector index."""
    return SpaceSchema(
        name="f1",
        fields=[
            FieldSpec("field_int", FieldType.INT, index=IndexSpec("field_int", "SCALAR")),
            FieldSpec("field_double", FieldType.DOUBLE, index=IndexSpec("field_double", "SCALAR")),
            FieldSpec("field_string", FieldType.STRING, index=IndexSpec("field_string", "SCALAR")),
            FieldSpec(
                "field_vector",
                FieldType.VECTOR,
                dimension=DIM,
                index=IndexSpec(
                    "field_vector",
                    "IVFFLAT",
                    params={"ncentroids": NCENTROIDS, "nprobe": NCENTROIDS,
                            "training_threshold": 50},
                ),
            ),
        ],
    )


def f1_rows(rng, ids) -> list[dict]:
    centers = np.arange(4)[:, None] * 3.0 * np.ones(DIM)
    return [
        {
            "_id": str(i),
            "field_int": int(rng.integers(0, 100)),
            "field_double": float(np.round(rng.uniform(0, 1000), 3)),
            "field_string": STRINGS[int(rng.integers(0, len(STRINGS)))],
            # dyadic coordinates: every distance is exact in float32
            "field_vector": (
                centers[int(rng.integers(0, 4))] + rng.integers(-8, 9, DIM) / 4.0
            ).tolist(),
        }
        for i in ids
    ]


@pytest.fixture()
def f1(spark, tmp_path):
    """A path-backed, index-trained F1 space and its numpy truth."""
    rng = np.random.default_rng(11)
    sp = Space(spark, f1_schema(), path=str(tmp_path / "f1"), n_buckets=N_BUCKETS)
    rows = f1_rows(rng, range(200))
    api.upsert(sp, {"documents": rows})
    sp.build_index("field_vector")
    truth = {r["_id"]: np.asarray(r["field_vector"], dtype=np.float32) for r in rows}
    yield sp, truth, rng
    for model in sp._indexes.values():
        model.unpersist()


def count_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; returns (jobs it ran, result)."""
    sc = spark.sparkContext
    group = f"point-verbs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


# ------------------------------------------------------------ job counts


def test_point_verb_job_counts(spark, f1):
    sp, _, rng = f1
    ids = [str(i) for i in range(0, 200, 17)]
    jobs, buckets = count_jobs(spark, lambda: sp._buckets_of_ids(ids))
    assert jobs == 0 and buckets
    jobs, got = count_jobs(spark, lambda: sp.get(ids).collect())
    assert jobs == 1
    assert sorted(r[ID_FIELD] for r in got) == sorted(ids)

    jobs, gone = count_jobs(
        spark, lambda: api.delete(sp, {"document_ids": ["3", "4", "404"]})
    )
    assert sorted(gone) == ["3", "4"]
    assert jobs <= DELETE_JOBS

    rows = f1_rows(rng, ["5", "6", "new1", "new2"])
    jobs, n = count_jobs(spark, lambda: api.upsert(sp, {"documents": rows}))
    assert n == 4
    assert jobs <= UPSERT_JOBS


# --------------------------------------------------------------- routing


def _bucket_of_each_row(spark, sp: Space) -> dict[str, int]:
    """id → the ``b{k}`` directory the last commit left its row in."""
    home = {}
    for b, v in sp._manifest["buckets"].items():
        for r in spark.read.parquet(sp._bucket_dir(int(b), int(v))).select(ID_FIELD).collect():
            assert r[ID_FIELD] not in home
            home[r[ID_FIELD]] = int(b)
    return home


def test_routing_agrees_with_commit(spark, tmp_path):
    rng = np.random.default_rng(5)
    ids = ["", "0", "007", "-1", "1e3", "3.14", "NaN", "ü", "日本語", "emoji-🦀",
           "x" * 1500, "é" * 700]
    ids += ["".join(chr(c) for c in rng.integers(0x20, 0x3000, 40)) for _ in range(20)]
    ids += [str(int(i)) for i in rng.integers(0, 10**9, 20)]
    schema = SpaceSchema.from_json({
        "name": "routing",
        "fields": [{"name": "field_int", "type": "integer"}],
    })
    sp = Space(spark, schema, path=str(tmp_path / "r"), n_buckets=N_BUCKETS)
    sp.upsert([{"_id": i, "field_int": n} for n, i in enumerate(ids)])
    home = _bucket_of_each_row(spark, sp)
    assert set(home) == set(ids)
    for i in ids:
        assert sp._buckets_of_ids([i]) == [home[i]], repr(i)
    assert sp._buckets_of_ids(ids) == sorted(set(home.values()))


def test_empty_id_lists_are_noops(spark, f1):
    sp, _, _ = f1
    version, snaps = sp._manifest["version"], sp.snapshots()
    assert sp.get([]).collect() == []
    assert api.query(sp, {"document_ids": []}).collect() == []
    assert api.delete(sp, {"document_ids": []}) == []
    assert sp._manifest["version"] == version and sp.snapshots() == snaps
    assert sp.count() == 200


# ----------------------------------------------------------- kept schema


def _inferred_read(spark, sp: Space, man: dict):
    """What a fresh, schema-inferring read of ``man`` returns."""
    roots = [sp._bucket_dir(int(b), int(v)) for b, v in sorted(man["buckets"].items())]
    if sp.schema.partition_rule is None:
        return spark.read.parquet(*roots)
    return reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(p).withColumn(
                PARTITION_FIELD, F.col(PARTITION_FIELD).cast("string")
            )
            for p in roots
        ],
    )


def _same_table(got, want) -> None:
    assert got.columns == want.columns
    assert got.schema == want.schema
    key = lambda r: r[ID_FIELD]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


def ruled_schema(names=("p0", "p1")) -> SpaceSchema:
    return SpaceSchema.from_json({
        "name": "ruled",
        "fields": [
            {"name": "field_int", "type": "integer"},
            {"name": "field_date", "type": "date"},
        ],
        "partition_rule": {
            "type": "RANGE",
            "field": "field_date",
            "ranges": [
                {"name": names[0], "value": "2020-06-01"},
                {"name": names[1], "value": "2021-01-01"},
            ],
        },
    })


def test_kept_schema_reads_match_inferred_reads(spark, tmp_path):
    path = str(tmp_path / "ruled")
    sp = Space(spark, ruled_schema(), path=path, n_buckets=4)
    dates = [dt.datetime(2020, 1, 1), dt.datetime(2020, 9, 1)]
    sp.upsert([{"_id": f"d{i}", "field_int": i, "field_date": dates[i % 2]}
               for i in range(12)])
    old = sp._manifest["version"]
    _same_table(sp.df, _inferred_read(spark, sp, sp._manifest))
    assert sp._data_schema is not None

    sp.update_partition_rule("ADD", ranges=[("p2", "2022-01-01")])
    assert sp._data_schema is None  # reset with the layout
    sp.upsert([{"_id": f"n{i}", "field_int": 100 + i, "field_date": dt.datetime(2021, 6, 1)}
               for i in range(4)])
    _same_table(sp.df, _inferred_read(spark, sp, sp._manifest))
    assert {r[PARTITION_FIELD] for r in sp.df.collect()} == {"p0", "p1", "p2"}

    sp.update_partition_rule("DROP", partition_name="p0")
    _same_table(sp.df, _inferred_read(spark, sp, sp._manifest))
    assert sp.get(["d0", "d1", "n0"]).count() == 2

    # an older snapshot through the kept schema
    snap = sp.as_of(old)
    with open(os.path.join(path, "manifests", f"{old}.json")) as fh:
        _same_table(snap, _inferred_read(spark, sp, json.load(fh)))
    assert snap.count() == 12

    reopened = Space.open(spark, path)
    _same_table(reopened.df, sp.df)
    _same_table(reopened.get(["d1", "n3"]), sp.get(["d1", "n3"]))


def test_numeric_range_names_read_back_as_written(spark, tmp_path):
    """A range named like a number keeps its spelling on read: the
    kept schema reads the partition level as a string, where type
    inference would read "07" as the integer 7."""
    sp = Space(spark, ruled_schema(("07", "2021")), path=str(tmp_path / "num"), n_buckets=2)
    sp.upsert([{"_id": f"d{i}", "field_int": i,
                "field_date": dt.datetime(2020, 1 + 6 * (i % 2), 1)} for i in range(6)])
    assert {r[PARTITION_FIELD] for r in sp.df.collect()} == {"07", "2021"}
    got = sp.query(partition_names=["07"], limit=10).collect()
    assert sorted(r[ID_FIELD] for r in got) == ["d0", "d2", "d4"]


def test_kept_schema_flat_layout(spark, f1):
    sp, _, rng = f1
    first = sp._manifest["version"]
    sp.upsert(f1_rows(rng, ["1", "2", "fresh"]))
    _same_table(sp.df, _inferred_read(spark, sp, sp._manifest))
    with open(os.path.join(sp.path, "manifests", f"{first}.json")) as fh:
        _same_table(sp.as_of(first), _inferred_read(spark, sp, json.load(fh)))
    reopened = Space.open(spark, sp.path)
    _same_table(reopened.df, sp.df)
    for model in reopened._indexes.values():
        model.unpersist()


# ------------------------------------------------------ api.delete contract


def test_api_delete_returns_deleted_ids_once(spark, f1):
    sp, _, _ = f1
    gone = api.delete(sp, {"document_ids": ["7", "7", "missing", "8", 9]})
    assert sorted(gone) == ["7", "8", "9"]
    assert sp.count() == 197
    assert api.delete(sp, {"document_ids": ["7", "missing"]}) == []
    assert sp.count() == 197


def test_api_delete_rejects_cap_before_writing(spark, f1):
    sp, _, _ = f1
    version = sp._manifest["version"]
    with pytest.raises(DocumentError, match="too many ids"):
        api.delete(sp, {"document_ids": [str(i) for i in range(GET_BY_IDS_CAP)]})
    assert sp._manifest["version"] == version
    assert sp.count() == 200
    assert len(api.delete(sp, {"document_ids": [str(i) for i in range(GET_BY_IDS_CAP - 1)]})) == 200


def test_upsert_then_search_is_exact_through_fused_swap(spark, f1):
    sp, truth, rng = f1
    rows = f1_rows(rng, [str(i) for i in range(0, 40, 3)] + [f"new{i}" for i in range(10)])
    api.upsert(sp, {"documents": rows})
    truth.update({r["_id"]: np.asarray(r["field_vector"], dtype=np.float32) for r in rows})
    ints = {r["_id"]: r["field_int"] for r in rows}
    for i in api.delete(sp, {"document_ids": ["1", "new0"]}):
        truth.pop(i)

    model = sp._indexes["field_vector"]
    indexed = [r[ID_FIELD] for r in model.assigned.select(ID_FIELD).collect()]
    assert sorted(indexed) == sorted(truth)  # each live id exactly once

    ids = list(truth)
    mat = np.stack([truth[i] for i in ids])
    k = 10
    for q in (rows[0]["field_vector"], rows[-1]["field_vector"], [1.5] * DIM):
        dist = ((mat - np.asarray(q, dtype=np.float32)) ** 2).sum(axis=1)
        hits = api.search(sp, {
            "vectors": [{"field": "field_vector", "feature": q}],
            "limit": k,
            "fields": [ID_FIELD, "field_int"],
            "index_params": {"nprobe": NCENTROIDS},
            "is_brute_search": 0,
        }).collect()
        got = [h[ID_FIELD] for h in hits]
        assert len(got) == k and len(set(got)) == k
        # tie-aware: the hits' distances are the k smallest
        got_d = np.sort([dist[ids.index(i)] for i in got])
        assert np.allclose(got_d, np.sort(dist)[:k])
        # an overwritten doc is served with its new fields
        for h in hits:
            if h[ID_FIELD] in ints:
                assert h["field_int"] == ints[h[ID_FIELD]]


def test_dollar_brace_ids_and_values_read_back_as_written(spark, f1):
    """Spark's SQL parser substitutes ``${...}`` with a config value
    (an unknown name with ''). Ids and filter values holding it stay
    literal through get, a filtered search, a list upsert's index sync
    and delete; documents whose ids are the substituted texts are never
    matched instead."""
    sp, truth, rng = f1
    special = ["${env:HOME}", "${spark.app.name}", "x${nope}y"]
    decoys = [os.environ.get("HOME", "/"), spark.conf.get("spark.app.name"), "xy"]
    rows = f1_rows(rng, special + decoys)
    for r in rows:
        r["field_string"] = r[ID_FIELD]
    api.upsert(sp, {"documents": rows})

    assert sorted(r[ID_FIELD] for r in sp.get(special).collect()) == sorted(special)
    hits = api.search(sp, {
        "vectors": [{"field": "field_vector", "feature": [1.5] * DIM}],
        "limit": 300,
        "fields": [ID_FIELD],
        "filters": {"operator": "AND", "conditions": [
            {"field": "field_string", "operator": "IN", "value": special}]},
        "index_params": {"nprobe": NCENTROIDS},
        "is_brute_search": 0,
    }).collect()
    assert sorted(h[ID_FIELD] for h in hits) == sorted(special)

    moved = f1_rows(rng, special)
    api.upsert(sp, {"documents": moved})
    model = sp._indexes["field_vector"]
    indexed = {r[ID_FIELD]: r["field_vector"] for r in model.assigned.collect()}
    assert len(indexed) == model.assigned.count() == 200 + len(rows)
    for r in moved:
        assert indexed[r[ID_FIELD]] == pytest.approx(r["field_vector"])

    assert sorted(api.delete(sp, {"document_ids": special})) == sorted(special)
    left = {r[ID_FIELD] for r in sp.get(special + decoys).collect()}
    assert left == set(decoys)
    assert set(decoys) <= {r[ID_FIELD] for r in model.assigned.collect()}
