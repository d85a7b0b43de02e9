"""Read-verb plan builds: how many Python→JVM round trips each read verb
pays to build its DataFrame, the distance kernels' bit-exactness, and
the Python-side bucket routing.

The reference serves a point read at point-query latency
(doc_http.go:321-324); here a small read's fixed cost is the plan build
in PySpark, and its round-trip count is pinned the way
``UPSERT_JOBS`` pins a write's Spark jobs.
"""

import math
import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vearch_spark import api
from vearch_spark.filters import isin_sql, sql_ident, sql_literal
from vearch_spark.functions import distance as D
from vearch_spark.operators import topk
from vearch_spark.operators.fusion import VectorQuery, multi_vector_search
from vearch_spark.operators.knn_join import knn_join
from vearch_spark.plans.roundtrips import count_round_trips
from vearch_spark.schema import Metric
from vearch_spark.space import Space
from test_point_verbs import N_BUCKETS, STRINGS, f1_rows, f1_schema

# round trips per build, measured on the fixture below (Spark 4.1, with
# the session get_spark builds, so PySpark's call-site capture is off):
# each DataFrame or Column method the build calls is one or more round
# trips, a kernel, a filter or a literal list one F.expr (3); before
# these builds went through SQL text they read 297 / 408 / 228 / 315 /
# 153 / 241 with the capture on
BUILD_ROUND_TRIPS = {
    "search": 43,
    "filtered_search": 55,
    "exact_search": 34,
    "batch_search": 95,
    "filter_query": 42,
    "get": 43,
}


@pytest.fixture(scope="module")
def f1(spark, tmp_path_factory):
    rng = np.random.default_rng(11)
    path = str(tmp_path_factory.mktemp("plans") / "f1")
    sp = Space(spark, f1_schema(), path=path, n_buckets=N_BUCKETS)
    rows = f1_rows(rng, range(200))
    api.upsert(sp, {"documents": rows})
    sp.build_index("field_vector")
    yield sp, rows
    for model in sp._indexes.values():
        model.unpersist()


def _requests(sp, rows):
    q = [float(x) for x in rows[0]["field_vector"]]
    vec = {"field": "field_vector", "feature": q}
    flt = {"operator": "AND", "conditions": [
        {"field": "field_int", "operator": "<", "value": 50},
        {"field": "field_string", "operator": "IN", "value": STRINGS[:4]},
    ]}
    qflt = {"operator": "AND", "conditions": [
        {"field": "field_double", "operator": ">=", "value": 500.0},
        {"field": "field_string", "operator": "IN", "value": STRINGS[:2]},
    ]}
    ids = [str(i) for i in range(0, 40, 2)]
    return {
        "search": lambda: api.search(sp, {"vectors": [vec], "limit": 10, "fields": ["_id"]}),
        "filtered_search": lambda: api.search(sp, {
            "vectors": [vec], "limit": 10, "filters": flt,
            "fields": ["_id", "field_int", "field_string"]}),
        "exact_search": lambda: api.search(sp, {
            "vectors": [vec], "limit": 10, "fields": ["_id"], "is_brute_search": 1}),
        "batch_search": lambda: api.search(sp, {
            "vectors": [{"field": "field_vector", "feature": q * 8}], "limit": 10}),
        "filter_query": lambda: api.query(sp, {"filters": qflt, "limit": 50}),
        "get": lambda: api.query(sp, {"document_ids": ids}),
    }


@pytest.mark.parametrize("verb", sorted(BUILD_ROUND_TRIPS))
def test_read_verb_build_round_trips(spark, f1, verb):
    sp, rows = f1
    build = _requests(sp, rows)[verb]
    assert build().collect()  # warm: first calls resolve JVM classes
    with count_round_trips(spark) as rt:
        df = build()
    assert df.collect()
    assert rt.n <= BUILD_ROUND_TRIPS[verb], rt.n


# ------------------------------------------------------ kernel exactness


def _lambda_fold(a, b, term, zero):
    return F.aggregate(F.zip_with(a, b, term), zero, lambda acc, v: acc + v)


def _lambda_kernels(v, q):
    """The Python-lambda kernels the SQL-text kernels replaced."""
    v, q = v.cast("array<double>"), q.cast("array<double>")
    l2 = _lambda_fold(v, q, lambda x, y: (x - y) * (x - y), F.lit(0.0))
    ip = _lambda_fold(v, q, lambda x, y: x * y, F.lit(0.0))

    def norm(a):
        return F.sqrt(_lambda_fold(a, a, lambda x, y: x * y, F.lit(0.0)))

    n = norm(v)
    normalized = F.when(n.isNotNull(), F.zip_with(
        v, F.array_repeat(n, F.size(v)),
        lambda x, nn: F.coalesce(F.try_divide(x, nn), F.lit(0.0))))
    return {
        "l2": l2,
        "l2_sqrt": F.sqrt(l2),
        "ip": ip,
        "cosine": F.try_divide(ip, norm(v) * norm(q)),
        "normalize": normalized,
    }


def _sql_kernels(v, q):
    return {
        "l2": D.l2_squared(v, q),
        "l2_sqrt": D.l2_distance(v, q),
        "ip": D.inner_product(v, q),
        "cosine": D.cosine_similarity(v, q),
        "normalize": D.l2_normalize(v),
    }


def _fold(v, q, term):
    """numpy float64 left fold: the sequential sum the kernels pin."""
    if v is None or q is None or len(v) != len(q):
        return None
    acc = np.float64(0.0)
    with np.errstate(all="ignore"):
        for x, y in zip(v, q):
            if x is None or y is None:
                return None
            acc = acc + term(np.float64(x), np.float64(y))
    return float(acc)


def _div(a, b):
    if a is None or b is None or b == 0:
        return None
    with np.errstate(all="ignore"):
        return float(np.float64(a) / np.float64(b))


def _truth(v, q):
    l2 = _fold(v, q, lambda x, y: (x - y) * (x - y))
    ip = _fold(v, q, lambda x, y: x * y)
    vv, qq = _fold(v, v, lambda x, y: x * y), _fold(q, q, lambda x, y: x * y)
    nv = None if vv is None else math.sqrt(vv)
    nq = None if qq is None else math.sqrt(qq)
    if nv is None:
        normalized = None
    else:
        normalized = [0.0 if nv == 0 else float(np.float64(x) / np.float64(nv)) for x in v]
    return {
        "l2": l2,
        "l2_sqrt": None if l2 is None else math.sqrt(l2),
        "ip": ip,
        "cosine": None if nv is None or nq is None else _div(ip, nv * nq),
        "normalize": normalized,
    }


def _bits(x):
    if x is None:
        return None
    if isinstance(x, list):
        return [_bits(e) for e in x]
    return struct.pack(">d", x)


QUERIES = [
    [0.5, -1.25, 3.0, 1e-300],
    [float("nan"), 1.0, 2.0, 3.0],
    [float("inf"), -0.0, 1.0, 2.0],
    [float("-inf"), 5e-324, -0.0, 0.0],
    [0.0, 0.0, 0.0, 0.0],
]


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.normal(size=4).astype(np.float32)],
         [float(x) for x in rng.normal(size=4)])
        for i in range(12)
    ]
    rows += [
        (100, None, [1.0, 2.0, 3.0, 4.0]),
        (101, [1.0, None, 2.0, 3.0], [0.5] * 4),
        (102, [0.0] * 4, [0.0] * 4),
        (103, [-0.0, 2.5, -1.0, 7.0], None),
    ]
    return spark.createDataFrame(rows, "id int, v array<float>, w array<double>")


def _collect(df, cols):
    rows = df.orderBy("id").select("id", "v", "w", *[c.alias(k) for k, c in cols.items()])
    return rows.collect()


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_literal_kernels_are_bit_exact(spark, vec_df, qi):
    """Column-vs-literal kernels: bit-equal to the lambda form and to a
    float64 left fold, NaN / ±inf / −0.0 query elements and NULL docs
    included."""
    q = QUERIES[qi]
    new = _collect(vec_df, _sql_kernels("v", q))
    old = _collect(vec_df, _lambda_kernels(F.col("v"), D.array_lit(q)))
    for a, b in zip(new, old):
        truth = _truth(a["v"], q)
        for k in truth:
            assert _bits(a[k]) == _bits(b[k]), (k, a["id"])
            assert _bits(a[k]) == _bits(truth[k]), (k, a["id"], a[k], truth[k])


def test_column_kernels_are_bit_exact(spark, vec_df):
    """Column-vs-column kernels, by name and as arbitrary expressions."""
    old = _collect(vec_df, _lambda_kernels(F.col("v"), F.col("w")))
    for v, w in (("v", "w"), (F.col("v"), F.col("w")), ("v", F.col("w"))):
        new = _collect(vec_df, _sql_kernels(v, w))
        for a, b in zip(new, old):
            truth = _truth(a["v"], a["w"])
            for k in truth:
                assert _bits(a[k]) == _bits(b[k]), (k, a["id"])
                assert _bits(a[k]) == _bits(truth[k]), (k, a["id"])


def test_normalized_query_score_is_bit_exact(spark, vec_df):
    q = QUERIES[0]
    for metric in (Metric.L2, Metric.INNER_PRODUCT):
        new = vec_df.select(D.score_expr("v", q, metric, normalize_query=True))
        qn = _lambda_kernels(D.array_lit(q), D.array_lit(q))["normalize"]
        old = vec_df.select(_lambda_kernels(F.col("v"), qn)["l2" if metric is Metric.L2 else "ip"])
        assert [_bits(r[0]) for r in new.collect()] == [_bits(r[0]) for r in old.collect()]


def test_hamming_is_bit_exact(spark):
    df = spark.createDataFrame(
        [(1, [10, 255, 0]), (2, None), (3, [1, 2, 3]), (4, [1, None, 3])],
        "id int, c array<int>",
    )
    for q in ([5, 15, 255], [0, 0, 0]):
        got = [r[0] for r in df.orderBy("id").select(D.hamming_distance("c", q)).collect()]
        want = [
            None if c is None or None in c else sum(bin(x ^ y).count("1") for x, y in zip(c, q))
            for c in ([10, 255, 0], None, [1, 2, 3], [1, None, 3])
        ]
        assert got == want


def test_operator_scores_match_the_fold(spark):
    """Column-vs-column use through the operators: batched search,
    knn_join and multi-vector fusion score with the same fold."""
    rng = np.random.default_rng(3)
    docs = [(f"d{i}", [float(x) for x in rng.normal(size=4).astype(np.float32)],
             [float(x) for x in rng.normal(size=4).astype(np.float32)]) for i in range(30)]
    df = spark.createDataFrame(docs, "_id string, v array<float>, u array<float>")
    vec = {d[0]: d[1] for d in docs}
    qs = [[float(x) for x in rng.normal(size=4)] for _ in range(3)]
    queries = spark.createDataFrame(list(enumerate(qs)), "query_id int, query_vec array<double>")
    hits = topk.search_batch(df, "v", queries, limit=5).collect()
    assert len(hits) == 15
    for r in hits:
        assert _bits(r["_score"]) == _bits(_fold(vec[r["_id"]], qs[r["query_id"]],
                                                 lambda x, y: (x - y) * (x - y)))

    side = df.select("_id", "v")
    pairs = knn_join(side, side, np.zeros((1, 4)), k=3, nprobe=1, vec_col="v",
                     id_col="_id", kernel="expr").collect()
    assert len(pairs) == 90
    for r in pairs:
        want = _fold(vec[r["_id"]], vec[r["neighbor_id"]], lambda x, y: (x - y) * (x - y))
        assert r["score"] == float(np.float32(want))

    other = {d[0]: d[2] for d in docs}
    fused = multi_vector_search(
        df, [VectorQuery("v", qs[0]), VectorQuery("u", qs[1])], limit=5,
        metric=Metric.INNER_PRODUCT, weights=[0.5, 0.5],
    ).collect()
    for r in fused:
        a = _fold(vec[r["_id"]], qs[0], lambda x, y: x * y)
        b = _fold(other[r["_id"]], qs[1], lambda x, y: x * y)
        assert r["_score"] == pytest.approx(0.5 * a + 0.5 * b, rel=1e-12)


# ---------------------------------------------------------------- routing


@pytest.fixture(scope="module")
def route_spaces(spark):
    return {n: Space(spark, f1_schema(), n_buckets=n) for n in (1, 7, 16, 1024)}


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    ids=st.lists(st.text(max_size=40) | st.text(min_size=300, max_size=600), min_size=1,
                 max_size=30),
    n=st.sampled_from([1, 7, 16, 1024]),
)
@example(ids=["", "\U0001d11e" * 300, "a'b\\c\n\x00", "d7"], n=16)
def test_python_routing_matches_bucket_expr(spark, route_spaces, ids, n):
    """``_buckets_of_ids`` (Python XXH64) routes every id to the bucket
    the write side's ``_bucket_expr`` (Spark's xxhash64) stores it in."""
    sp = route_spaces[n]
    jvm = spark.createDataFrame(pd.DataFrame({"_id": ids}), "_id string").select(
        "_id", sp._bucket_expr().alias("b")
    ).collect()
    for r in jvm:
        assert sp._buckets_of_ids([r["_id"]]) == [r["b"]], repr(r["_id"])
    assert sp._buckets_of_ids(ids) == sorted({r["b"] for r in jvm})


# ------------------------------------------------------------ SQL text


@pytest.mark.parametrize("value", [
    "${env:HOME}", "${spark.app.name}", "${nope}", "$", "a$b", "\\${x}", "\\u0024",
    "it's", "back\\slash", "\U0001d11e", "",
])
def test_sql_literal_reads_back_as_written(spark, value):
    """A string literal written into SQL text reads back as the same
    string: quotes, backslashes and ``${...}`` (which the parser would
    otherwise substitute with a config value) included."""
    got = spark.range(1).select(F.expr(sql_literal(value)).alias("v")).first()["v"]
    assert got == value
    hit = spark.createDataFrame([(value,), ("other",)], "s string").where(isin_sql("s", [value]))
    assert [r["s"] for r in hit.collect()] == [value]


def test_sql_ident_refuses_dollar_brace():
    with pytest.raises(ValueError):
        sql_ident("a${spark.app.name}")
    assert isin_sql("s", []) == "false"


def test_round_trip_counters_nest(spark):
    client = spark.sparkContext._gateway._gateway_client
    with count_round_trips(spark) as outer:
        with count_round_trips(spark) as inner:
            spark.range(1).columns
        spark.range(1).columns
    assert 0 < inner.n < outer.n
    assert "send_command" not in vars(client)
