"""HNSW graph index (operators/hnsw.py) — the reference's graph ANN
(hnswlib per PS shard + router merge, gamma_index_hnswlib.cc:130),
rebuilt as sharded numpy graphs + TakeOrderedAndProject merge.

Recall gates mirror the reference CI thresholds
(test/test_recall_baseline.py:301-303): recall@1 ≥ 0.50, @10 ≥ 0.80,
@100 ≥ 0.90 — on a clustered corpus for both metrics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vearch_spark.operators import topk
from vearch_spark.operators.hnsw import HNSWIndex, _level_of, _ShardGraph
from vearch_spark.schema import Metric


def _clustered(rng, n, dim, ncenters=12, spread=1.0):
    centers = rng.normal(0, 10, (ncenters, dim))
    x = centers[rng.integers(0, ncenters, n)] + rng.normal(0, spread, (n, dim))
    return x, centers


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(11)
    x, centers = _clustered(rng, 4000, 24)
    df = spark.createDataFrame(
        [(int(i), x[i].tolist(), int(i % 7)) for i in range(len(x))],
        "vec_id long, embedding array<float>, label int",
    ).repartition(8).cache()
    df.count()
    qs = centers[rng.integers(0, 12, 15)] + rng.normal(0, 1.0, (15, 24))
    return df, x, qs


@pytest.fixture(scope="module")
def index(corpus):
    df, _, _ = corpus
    idx = HNSWIndex(
        "embedding", Metric.L2, nlinks=12, efConstruction=80, efSearch=96,
        nshards=4, id_col="vec_id",
    )
    idx.fit(df)
    yield idx
    idx.unpersist()


def test_recall_gates_l2(corpus, index):
    df, x, qs = corpus
    hits = {1: 0, 10: 0, 100: 0}
    for q in qs:
        d = ((x - q) ** 2).sum(axis=1)
        got = [r.vec_id for r in index.search(df, q.tolist(), limit=100).collect()]
        for k in hits:
            gt = set(np.argsort(d, kind="stable")[:k].tolist())
            hits[k] += len(set(got[:k]) & gt)
    nq = len(qs)
    assert hits[1] / nq >= 0.50
    assert hits[10] / (10 * nq) >= 0.80
    assert hits[100] / (100 * nq) >= 0.90


def test_recall_gates_ip(spark):
    rng = np.random.default_rng(3)
    x, centers = _clustered(rng, 3000, 24)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(int(i), xn[i].tolist()) for i in range(len(xn))],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    idx = HNSWIndex(
        "embedding", Metric.INNER_PRODUCT, nlinks=12, efConstruction=80,
        efSearch=96, nshards=3, id_col="vec_id",
    ).fit(df)
    qs = centers[rng.integers(0, 12, 10)]
    qs = qs / np.linalg.norm(qs, axis=1, keepdims=True)
    hit = 0
    for q in qs:
        gt = set(np.argsort(-(xn @ q), kind="stable")[:10].tolist())
        got = {r.vec_id for r in idx.search(df, q.tolist(), limit=10).collect()}
        hit += len(got & gt)
    idx.unpersist()
    assert hit / 100 >= 0.80


def test_deterministic_rebuild(corpus):
    """The graph is a pure function of (rows, params): level draws hash
    the id, inserts are id-ordered — two independent fits answer
    identically (rebuilds/retries are reproducible)."""
    df, _, qs = corpus
    a = HNSWIndex("embedding", Metric.L2, nlinks=12, efConstruction=80,
                  efSearch=64, nshards=4, id_col="vec_id").fit(df)
    b = HNSWIndex("embedding", Metric.L2, nlinks=12, efConstruction=80,
                  efSearch=64, nshards=4, id_col="vec_id").fit(df)
    q = qs[0].tolist()
    ra = [(r.vec_id, r._score) for r in a.search(df, q, limit=20).collect()]
    rb = [(r.vec_id, r._score) for r in b.search(df, q, limit=20).collect()]
    a.unpersist(); b.unpersist()
    assert ra == rb


def test_search_matches_flat_on_small_corpus(spark, embeddings):
    """With ef comfortably above the shard size the beam is effectively
    exhaustive — results equal the exact FLAT kernel bit-for-bit
    (scores are recomputed JVM-side through the same topk.search)."""
    idx = HNSWIndex("embedding", Metric.L2, nlinks=16, efConstruction=100,
                    efSearch=256, nshards=2, id_col="vec_id").fit(embeddings)
    rng = np.random.default_rng(5)
    for _ in range(3):
        q = [float(v) for v in rng.random(64)]
        got = [(r.vec_id, r._score)
               for r in idx.search(embeddings, q, limit=10).collect()]
        exact = [(r.vec_id, r._score)
                 for r in topk.search(embeddings, "embedding", q, limit=10,
                                      id_col="vec_id").collect()]
        assert got == exact
    idx.unpersist()


def test_batch_matches_flat(spark, embeddings):
    rng = np.random.default_rng(9)
    qs = [[float(v) for v in rng.random(64)] for _ in range(6)]
    idx = HNSWIndex("embedding", Metric.L2, nlinks=16, efConstruction=100,
                    efSearch=256, nshards=2, id_col="vec_id").fit(embeddings)
    got = {(r.query_id, r.vec_id) for r in idx.search_batch(qs, limit=10).collect()}
    qdf = embeddings.sparkSession.createDataFrame(
        [(i, q) for i, q in enumerate(qs)], "query_id int, query_vec array<double>"
    )
    exact = {(r.query_id, r.vec_id)
             for r in topk.search_batch(embeddings, "embedding", qdf, limit=10,
                                        id_col="vec_id").collect()}
    idx.unpersist()
    assert got == exact


def test_delete_bitmap_semantics(corpus, index):
    """Removed ids never surface but stay as routing waypoints
    (Engine::Delete engine.cc:869-900 + SearchCondition::IsValid)."""
    df, x, qs = corpus
    q = qs[1].tolist()
    before = [r.vec_id for r in index.search(df, q, limit=5).collect()]
    index.remove(before[:2])
    after = [r.vec_id for r in index.search(df, q, limit=5).collect()]
    assert not (set(after) & set(before[:2]))
    assert len(after) == 5
    # distributed remove path: DataFrame of ids, no driver materialization
    spark = df.sparkSession
    ids_df = spark.createDataFrame([(before[2],)], "vec_id long")
    index.remove(ids_df)
    third = [r.vec_id for r in index.search(df, q, limit=5).collect()]
    assert before[2] not in third


def test_incremental_add_rewrites_only_touched_shards(corpus):
    """The fold after add() regrows ONLY the shards the new ids hash
    to; the other shards' stored rows (adjacency included) are reused
    verbatim — bounded rewrite, the Indexing() loop analog
    (engine.cc:1084-1138)."""
    from vearch_spark.operators.hnsw import LINKS_COL, NODE_COL, SHARD_COL

    df, x, qs = corpus
    idx = HNSWIndex("embedding", Metric.L2, nlinks=12, efConstruction=80,
                    efSearch=64, nshards=4, id_col="vec_id").fit(df)
    spark = df.sparkSession
    new = spark.createDataFrame(
        [(90001, qs[2].tolist(), 1)], "vec_id long, embedding array<float>, label int"
    )
    touched = [
        r[0] for r in new.withColumn(SHARD_COL, idx._shard_expr())
        .select(SHARD_COL).distinct().collect()
    ]
    before = {
        r.vec_id: (r[NODE_COL], str(r[LINKS_COL]))
        for r in idx._base.where(~F.col(SHARD_COL).isin(touched)).collect()
    }
    idx.add(new)
    got = idx.search(df, qs[2].tolist(), limit=1).collect()
    assert got[0].vec_id == 90001  # searchable from the delta
    idx.fold()
    after = {
        r.vec_id: (r[NODE_COL], str(r[LINKS_COL]))
        for r in idx._base.where(~F.col(SHARD_COL).isin(touched)).collect()
    }
    assert before == after  # untouched shards byte-identical
    got = idx.search(df, qs[2].tolist(), limit=1).collect()
    assert got[0].vec_id == 90001
    idx.unpersist()


def test_save_load_roundtrip(tmp_path, corpus, index):
    df, _, qs = corpus
    p = str(tmp_path / "hnsw")
    index.save(p)
    loaded = HNSWIndex.load(df.sparkSession, p)
    q = qs[3].tolist()
    a = [(r.vec_id, r._score) for r in index.search(df, q, limit=10).collect()]
    b = [(r.vec_id, r._score) for r in loaded.search(df, q, limit=10).collect()]
    loaded.unpersist()
    assert a == b


def test_search_plan_no_exchange_over_graph(corpus, index):
    """The per-shard probe reads the cached, shard-partitioned relation
    with NO new exchange (the grouping requirement is satisfied by the
    cache's hash partitioning) — the property that holds at 1000
    executors: a search never reshuffles the graph."""
    df, _, qs = corpus
    cand = index._candidates([qs[0].tolist()], 64, 64)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    live = plan.split("InMemoryRelation")[0]  # cache build plan excluded
    assert "Exchange" not in live
    assert "FlatMapGroupsInPandas" in live


def test_filtered_search_validates_candidates(corpus, index):
    df, x, qs = corpus
    q = qs[4].tolist()
    out = index.search(df, q, limit=10, flt=F.col("label") == 3).collect()
    assert len(out) > 0 and all(r.label == 3 for r in out)


def test_selective_filter_fills_k(corpus):
    """A ~1% filter still fills the full limit AND matches the exact
    pre-filtered scan: the probe widens its beam until k allowed hits
    per shard (the reference's filter-during-traversal — candidates
    are validated against the filter docid set and traversal continues
    until enough valid, SearchCondition::IsValid) instead of
    post-filtering a fixed-ef candidate page down to near-nothing.
    With ≤k matches per shard the widened beam is exhaustive, so the
    result is bit-equal to FLAT over the filtered corpus."""
    from vearch_spark.operators import topk

    df, x, qs = corpus
    idx = HNSWIndex("embedding", Metric.L2, nlinks=12, efConstruction=80,
                    efSearch=96, nshards=4, id_col="vec_id").fit(df)
    pred = (F.col("vec_id") % 97) == 0  # ~41 of 4000 rows qualify
    for q in (qs[5].tolist(), qs[6].tolist()):
        got = [(r.vec_id, r._score)
               for r in idx.search(df, q, limit=10, flt=pred).collect()]
        exact = [(r.vec_id, r._score)
                 for r in topk.search(df.where(pred), "embedding", q, limit=10,
                                      id_col="vec_id").collect()]
        assert len(got) == 10
        assert got == exact
    idx.unpersist()


def test_level_draw_distribution():
    """Hash-based level draw matches the paper's exponential
    distribution: P(level ≥ l) = (1/M)^l."""
    m_l = 1.0 / np.log(16)
    levels = np.array([_level_of(i, m_l) for i in range(20000)])
    assert (levels == 0).mean() == pytest.approx(1 - 1 / 16, abs=0.02)
    assert (levels >= 1).mean() == pytest.approx(1 / 16, abs=0.01)


def test_graph_connected_layer0():
    """Layer-0 reachability from the entry point covers the whole
    shard (the property ef=N exhaustiveness relies on)."""
    rng = np.random.default_rng(2)
    x, _ = _clustered(rng, 800, 16)
    g = _ShardGraph(16, Metric.L2, 8, 48)
    for i in range(len(x)):
        g.insert(x[i], _level_of(i, g.m_l))
    seen = {g.entry}
    stack = [g.entry]
    while stack:
        n = stack.pop()
        for nb in g.links[n][0]:
            if nb not in seen:
                seen.add(nb)
                stack.append(nb)
    assert len(seen) == len(x)


def test_search_layer_visited_stamps_stay_isolated():
    """The visited-epoch rewrite of _search_layer (r9): one persistent
    stamp array replaces a fresh bool allocation per layer search, so
    visitation state must not leak between calls, the stamp array must
    survive the vector buffer doubling (n > the initial 1024), and a
    load()-adopted graph must keep inserting and searching correctly."""
    rng = np.random.default_rng(5)
    x, _ = _clustered(rng, 1400, 8)  # crosses the 1024 buffer doubling
    g = _ShardGraph(8, Metric.L2, 8, 48)
    for i in range(len(x)):
        g.insert(x[i], _level_of(i, g.m_l))
    q = x[17]
    first = g.search(q, 64, 10)
    assert len(first) == 10
    # epoch isolation: repeated searches see a clean visited state
    assert all(g.search(q, 64, 10) == first for _ in range(3))
    # exhaustive ef ⇒ beam search equals brute force exactly
    d = ((x - q) ** 2).sum(axis=1)
    got = [n for _, n in g.search(q, len(x), 10)]
    assert got == np.argsort(d, kind="stable")[:10].tolist()
    # adopt the stored graph (load() rebuilds the stamp array), search
    # parity, then grow past the adopted size so the stamps regrow too
    g2 = _ShardGraph(8, Metric.L2, 8, 48)
    g2.load(
        g.vecs.copy(), list(g.levels),
        [[list(layer) for layer in row] for row in g.links],
    )
    assert g2.search(q, 64, 10) == first
    extra = rng.normal(0, 10, (50, 8))
    for j in range(50):
        g2.insert(extra[j], _level_of(f"x{j}", g2.m_l))
    assert g2.n == len(x) + 50
    # q is node 17's own vector: exhaustive search must return it first
    assert g2.search(q, g2.n, 1)[0][1] == 17


def test_load_rejects_out_of_range_link_ids():
    """A corrupt stored graph whose links point past the vector count,
    or below 0, must fail loudly at load(): the hot search path indexes
    the raw capacity buffer, so an unvalidated stale id would silently
    read uninitialized rows, and a negative one wraps to the end."""
    rng = np.random.default_rng(9)
    x, _ = _clustered(rng, 40, 8)
    g = _ShardGraph(8, Metric.L2, 8, 48)
    for i in range(len(x)):
        g.insert(x[i], _level_of(i, g.m_l))
    for bad_id in (len(x) + 7, -1):
        links = [[list(layer) for layer in row] for row in g.links]
        links[3][0][0] = bad_id
        g2 = _ShardGraph(8, Metric.L2, 8, 48)
        with pytest.raises(ValueError, match="corrupt graph"):
            g2.load(x.copy(), list(g.levels), links)


def test_stored_vamana_shard_decodes_once(monkeypatch):
    """A stored DiskANN shard is decoded by one load: one contiguous
    copy, one link check and one medoid (``_entry_node``) per search,
    and the decoded graph is the one the build stored."""
    import pandas as pd

    from vearch_spark.operators import vamana

    rng = np.random.default_rng(12)
    x, _ = _clustered(rng, 60, 8)
    fresh = pd.DataFrame({
        "id": np.arange(60), "v": list(x), "_node": -1, "_layer": -1,
        "_links": None, "_deleted": False,
    })
    built, stored = vamana._build_vamana(fresh, "v", "id", Metric.L2, 8, 32, 1.2)
    calls = []
    entry_node = vamana._VamanaShard._entry_node
    monkeypatch.setattr(
        vamana._VamanaShard, "_entry_node",
        lambda self: calls.append(1) or entry_node(self),
    )
    g, _ = vamana._build_vamana(stored, "v", "id", Metric.L2, 8, 32, 1.2)
    assert len(calls) == 1
    assert g.entry == built.entry
    assert [list(map(int, row[0])) for row in g.links] == [
        list(map(int, row[0])) for row in built.links
    ]


def test_vacuum_regrows_churned_shards(corpus):
    """Removing 30% of the ids crosses the fold bound, and the fold
    regrows every shard past ~20% tombstones WITHOUT the dead rows (the
    ForceMerge-reclaims-bitmap analog, engine.cc:1013-1084) — so the
    probe's bounded over-fetch stays sound under update/delete churn
    and search cost cannot grow without limit."""
    from vearch_spark.operators.hnsw import DELETED_COL, SHARD_COL

    df, x, qs = corpus
    idx = HNSWIndex("embedding", Metric.L2, nlinks=12, efConstruction=80,
                    efSearch=96, nshards=4, id_col="vec_id").fit(df)
    # kill 30% of all ids — every shard crosses the threshold
    doomed = [int(i) for i in range(0, 4000, 3)]
    idx.remove(doomed)
    assert idx.pending == 0  # the write folded
    flags = idx._base.groupBy(SHARD_COL).agg(
        F.sum(F.col(DELETED_COL).cast("int")).alias("d")).collect()
    assert all(r.d == 0 for r in flags)  # tombstones reclaimed
    assert idx._base.count() == 4000 - len(doomed)
    # searches still exclude the removed ids and fill k
    got = [r.vec_id for r in idx.search(df, qs[0].tolist(), limit=10).collect()]
    assert len(got) == 10 and not (set(got) & set(doomed))
    idx.unpersist()


def test_space_writes_flow_into_hnsw(spark):
    """Write consistency through the Space verbs with an HNSW index:
    upsert inserts/updates and deletes are visible via is_brute_search=0
    with no rebuild (the engine feeds the realtime index on AddOrUpdate
    and sets the bitmap on Delete)."""
    from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema
    from vearch_spark.space import Space

    DIM = 8
    schema = SpaceSchema(
        name="hnsw_writes",
        fields=[
            FieldSpec("field_int", FieldType.INT, index=IndexSpec("field_int", "SCALAR")),
            FieldSpec("field_vector", FieldType.VECTOR, dimension=DIM,
                      index=IndexSpec("field_vector", "HNSW",
                                      params={"nlinks": 8, "efConstruction": 32,
                                              "nshards": 2, "training_threshold": 10})),
        ],
    )
    rng = np.random.default_rng(7)
    sp = Space(spark, schema)
    sp.upsert([{"_id": str(i), "field_int": i,
                "field_vector": [float(x) for x in rng.normal(0, 1, DIM)]}
               for i in range(60)])
    sp.build_index("field_vector")
    assert sp.index_state("field_vector") == "INDEXED"

    probe = [100.0] * DIM
    sp.upsert([
        {"_id": "new1", "field_int": 1000, "field_vector": probe},
        {"_id": "5", "field_int": 5, "field_vector": [99.0] * DIM},
    ])
    got = [r._id for r in
           sp.search(vector=probe, limit=2, is_brute_search=0).collect()]
    assert got == ["new1", "5"]
    sp.delete(["new1"])
    got = [r._id for r in
           sp.search(vector=probe, limit=1, is_brute_search=0).collect()]
    assert got == ["5"]


def test_add_flags_rebuild_when_shards_outgrow(spark):
    """Sustained ingest cannot silently drift shards out of their
    sized envelope: needs_rebuild holds once a fold leaves a shard past
    2x shard_max_rows (the resize path is a retrain — the reference's
    RebuildIndex); fit() clears it."""
    rng = np.random.default_rng(21)
    x, _ = _clustered(rng, 60, 8)
    df = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in range(len(x))],
        "vec_id long, embedding array<float>",
    )
    idx = HNSWIndex("embedding", Metric.L2, nlinks=8, efConstruction=32,
                    nshards=2, shard_max_rows=40, id_col="vec_id").fit(df)
    assert not idx.needs_rebuild  # 60 rows over 2 shards: inside budget
    y, _ = _clustered(rng, 120, 8)
    more = spark.createDataFrame(
        [(1000 + int(i), y[i].tolist()) for i in range(len(y))],
        "vec_id long, embedding array<float>",
    )
    idx.add(more)  # 180 rows over 2 shards: a shard passes 80
    assert idx.pending == 0  # 120 pending ids passed the fold bound
    assert idx.needs_rebuild
    idx.fit(df.unionByName(more))
    assert not idx.needs_rebuild
    idx.unpersist()


def test_auto_sized_refit_regrows_shards(spark):
    """fit() on an auto-sized index re-sizes nshards — the documented
    rebuild remedy must actually grow the shard count, not just clear
    the flag."""
    rng = np.random.default_rng(33)
    x, _ = _clustered(rng, 50, 8)
    df = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in range(len(x))],
        "vec_id long, embedding array<float>",
    )
    idx = HNSWIndex("embedding", Metric.L2, nlinks=8, efConstruction=32,
                    shard_max_rows=40, id_col="vec_id").fit(df)
    assert idx.nshards == 2  # ceil(50/40)
    y, _ = _clustered(rng, 150, 8)
    big = df.unionByName(spark.createDataFrame(
        [(1000 + int(i), y[i].tolist()) for i in range(len(y))],
        "vec_id long, embedding array<float>",
    ))
    idx.fit(big)
    assert idx.nshards == 5  # ceil(200/40): re-sized, not stuck at 2
    assert not idx.needs_rebuild
    idx.unpersist()


def test_reserved_columns_rejected(spark, embeddings):
    with pytest.raises(Exception):
        HNSWIndex("embedding", Metric.L2, nlinks=8, efConstruction=32,
                  nshards=2, id_col="vec_id").fit(
            embeddings.withColumn("_allowed", F.lit(True)))


def test_save_load_keeps_shard_envelope(tmp_path, spark, embeddings):
    idx = HNSWIndex("embedding", Metric.L2, nlinks=8, efConstruction=32,
                    nshards=2, shard_max_rows=1234, id_col="vec_id").fit(embeddings)
    p = str(tmp_path / "env")
    idx.save(p)
    loaded = HNSWIndex.load(spark, p)
    assert loaded.shard_max_rows == 1234  # envelope survives the dump
    idx.unpersist(); loaded.unpersist()
