"""DISKANN_STATIC: sharded Vamana graphs (reference
internal/engine/index/impl/diskann/ + test_vector_index_diskann_static.py;
method Subramanya et al. NeurIPS 2019)."""

import numpy as np
import pytest

from vearch_spark.operators import topk
from vearch_spark.operators.vamana import DiskANNStaticIndex, _VamanaShard
from vearch_spark.schema import Metric

DIM = 24
N = 4000
N_TRUE = 16


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(21)
    centers = rng.normal(0, 5.0, size=(N_TRUE, DIM))
    vecs = centers[np.arange(N) % N_TRUE] + rng.normal(0, 1.0, (N, DIM))
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).persist()
    df.count()
    return df, centers


@pytest.fixture(scope="module")
def index(emb):
    df, _ = emb
    idx = DiskANNStaticIndex(
        "embedding", Metric.L2, R=24, L=48, l_search=64,
        nshards=4, id_col="vec_id",
    ).fit(df)
    yield idx
    idx.unpersist()


def test_robust_prune_properties():
    """RobustPrune: <= R neighbors, closest candidate always kept, and
    every dropped candidate is alpha-dominated by a kept one."""
    rng = np.random.default_rng(2)
    vecs = rng.normal(0, 1.0, (300, DIM))
    g = _VamanaShard(vecs, Metric.L2, r=8, build_l=32, alpha=1.2)
    pool = list(range(1, 200))
    out = g._robust_prune(0, pool, 1.2)
    assert 0 < len(out) <= 8
    dp = ((vecs[pool] - vecs[0]) ** 2).sum(axis=1)
    closest = pool[int(np.argmin(dp))]
    assert closest in out
    # domination property holds exactly when the prune DRAINS (did not
    # stop at the R cap): with R >= pool size every non-kept candidate
    # must be alpha-dominated by some kept neighbor
    g_wide = _VamanaShard(vecs, Metric.L2, r=250, build_l=32, alpha=1.2)
    out_w = g_wide._robust_prune(0, pool, 1.2)
    assert len(out_w) < 250  # drained, not capped
    kept = np.asarray(out_w)
    for v in pool:
        if v in out_w:
            continue
        dv = ((vecs[v] - vecs[0]) ** 2).sum()
        dom = ((vecs[kept] - vecs[v]) ** 2).sum(axis=1)
        assert (1.2 * dom <= dv).any()  # some kept neighbor dominates v


def test_vamana_recall_vs_exact(index, emb):
    df, centers = emb
    rng = np.random.default_rng(4)
    hits = 0
    nq = 10
    for _ in range(nq):
        q = (centers[rng.integers(0, N_TRUE)] + rng.normal(0, 1.0, DIM)).tolist()
        exact = {r.vec_id for r in topk.search(
            df, "embedding", q, limit=10, id_col="vec_id").collect()}
        got = {r.vec_id for r in index.search(df, q, limit=10).collect()}
        hits += len(exact & got)
    assert hits / (10 * nq) >= 0.9


def test_vamana_graph_degree_bound_and_determinism(index, emb):
    df, _ = emb
    rows = index._base.select("_node", "_layer", "_links", "_shard").collect()
    assert all(r._layer == 0 for r in rows)  # single layer
    assert all(len(r._links) == 1 for r in rows)
    assert all(len(r._links[0]) <= 24 for r in rows)  # R bound
    # rebuild from scratch is bit-identical (pure function of rows)
    idx2 = DiskANNStaticIndex(
        "embedding", Metric.L2, R=24, L=48, l_search=64,
        nshards=4, id_col="vec_id",
    ).fit(df)
    a = {(r._shard, r._node): r._links for r in rows}
    b = {(r._shard, r._node): r._links
         for r in idx2._base.select("_node", "_layer", "_links", "_shard").collect()}
    assert a == b
    # deliberately NOT unpersisted: the deterministic rebuild is
    # plan-equal to the fixture's graph, so CacheManager dedups them
    # into ONE entry — unpersisting this handle would evict the shared
    # fixture cache (the exact trap space.py's rebuild docstring
    # documents) and the later plan-pin test would see uncached
    # lineage. The module fixture teardown releases the entry.


def test_vamana_save_load_and_delete(index, emb, tmp_path):
    df, centers = emb
    q = centers[1].tolist()
    want = [(r.vec_id, round(r._score, 6))
            for r in index.search(df, q, limit=5).collect()]
    path = str(tmp_path / "vamana_idx")
    index.save(path)
    loaded = DiskANNStaticIndex.load(df.sparkSession, path)
    assert loaded.alpha == 1.2
    got = [(r.vec_id, round(r._score, 6))
           for r in loaded.search(df, q, limit=5).collect()]
    assert got == want
    # tombstone the top hit: it routes but never surfaces
    top = want[0][0]
    loaded.remove([top])
    after = [r.vec_id for r in loaded.search(df, q, limit=5).collect()]
    assert top not in after and len(after) == 5
    loaded.unpersist()


def test_space_serves_diskann_static(spark):
    """End-to-end through the Space index factory with the reference's
    knob names (test_vector_index_diskann_static.py create payload)."""
    from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema
    from vearch_spark.space import Space

    rng = np.random.default_rng(33)
    schema = SpaceSchema(name="dk", fields=[
        FieldSpec("v", FieldType.VECTOR, dimension=8,
                  index=IndexSpec("v", "DISKANN_STATIC",
                                  params={"R": 16, "L": 32, "l_search": 48,
                                          "beam_width": 4,
                                          "training_threshold": 10})),
    ])
    sp = Space(spark, schema)
    sp.upsert([{"_id": str(i), "v": rng.normal(0, 1, 8).tolist()}
               for i in range(300)])
    sp.build_index("v")
    from vearch_spark.operators.vamana import DiskANNStaticIndex as D
    assert isinstance(sp._indexes["v"], D)
    assert sp._indexes["v"].nlinks == 16  # R mapped onto the degree slot
    out = sp.search(vector=[0.0] * 8, limit=5).collect()
    assert len(out) == 5


def _assert_medoid_reachable(index):
    """Every node of every shard has a path from the shard medoid."""
    from collections import deque

    full = index._base.select("_shard", "_node", "_links", index.vector_col).collect()
    for shard in {r._shard for r in full}:
        shard_rows = sorted((r._node, r) for r in full if r._shard == shard)
        vecs = np.array([np.asarray(r[index.vector_col], dtype=np.float64)
                         for _, r in shard_rows])
        mean = vecs.mean(axis=0)
        medoid = int(((vecs - mean) ** 2).sum(axis=1).argmin())
        adj = {node: list(r._links[0]) for node, r in shard_rows}
        seen = {medoid}
        dq = deque([medoid])
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    dq.append(v)
        assert len(seen) == len(adj), f"shard {shard}: {len(seen)}/{len(adj)} reachable"


def test_vamana_shards_connected_from_medoid(index):
    """Exhaustive-l_search exactness (the diskann_knn oracle) relies on
    every node being medoid-reachable — pin it on the fixture shards."""
    _assert_medoid_reachable(index)


def test_build_links_every_node_from_medoid(emb):
    """At R=16, L=32 RobustPrune leaves a node with no in-edge in three
    of the four shards (vec_id 2947 in shard 1 among them); the build's
    reachability repair links each one, so an exhaustive beam returns
    the doc for its own vector."""
    df, _ = emb
    idx = _fitted(emb)
    try:
        _assert_medoid_reachable(idx)
        assert all(len(r._links[0]) <= 16 for r in idx._base.select("_links").collect())
        own = df.where("vec_id = 2947").first().embedding
        got = idx.search(df, own, limit=1, ef_search=1_000_000).collect()
        assert [(r.vec_id, r._score) for r in got] == [(2947, 0.0)]
    finally:
        idx.unpersist()


def test_link_unreached_uses_free_slots_then_off_tree_edges():
    """The repair keeps out-lists <= R: an unreached node is linked from
    the nearest reached node with a free slot, and only when every
    reached list is full does the nearest one drop its farthest edge
    off the BFS tree (never a tree edge, so nothing reached is lost)."""
    # 1-D points: node 0 is the medoid (nearest the mean 0)
    vecs = np.array([[0.0], [1.0], [-1.0], [2.0], [-2.0]])
    g = _VamanaShard(vecs, Metric.L2, r=2, build_l=8)
    assert g.entry == 0
    # full lists; BFS tree from 0: 0->1, 0->2, 2->3; node 4 unreached
    g.links = [[[1, 2]], [[0, 2]], [[0, 3]], [[1, 2]], [[2]]]
    g._link_unreached()
    # nearest reached to node 4 is node 2: its farther edge 2->3 is the
    # tree edge node 3 hangs on, so 2->0 makes room
    assert g.links[2][0] == [3, 4]
    assert all(len(row[0]) <= 2 for row in g.links)
    seen, todo = {0}, [0]
    while todo:
        for v in g.links[todo.pop()][0]:
            if v not in seen:
                seen.add(v)
                todo.append(v)
    assert seen == set(range(5))
    # with a free slot nothing is evicted: node 3 takes node 4
    g.links = [[[1, 2]], [[0, 3]], [[0, 1]], [[1]], [[2]]]
    g._link_unreached()
    assert g.links[3][0] == [1, 4] and g.links[2][0] == [0, 1]


def test_shared_beam_upto_and_expanded():
    """Vamana's build walks the shared beam with ``upto`` (only the
    nodes inserted so far) and ``expanded`` (RobustPrune's pool)."""
    rng = np.random.default_rng(8)
    vecs = rng.normal(0, 1.0, (300, DIM))
    g = _VamanaShard(vecs, Metric.L2, r=8, build_l=32)
    g.build()
    for upto in (1, 50, 151, 299):
        for q in rng.normal(0, 1.0, (5, DIM)):
            exp: list[int] = []
            got = g._search_layer(q, [0], 32, 0, upto=upto, expanded=exp)
            assert got and exp and exp[0] == 0
            assert all(n < upto for _, n in got) and all(n < upto for n in exp)
            assert len(set(exp)) == len(exp)
    # ``expanded`` is the pop order: nearest candidate first, not link order
    line = np.array([[10.0], [3.0], [1.0], [2.0]])  # d² to 0: 100, 9, 1, 4
    h = _VamanaShard(line, Metric.L2, r=4, build_l=8)
    h.links = [[[1, 2, 3]], [[]], [[]], [[]]]
    exp = []
    h._search_layer(np.zeros(1), [0], 10, 0, expanded=exp)
    assert exp == [0, 2, 3, 1]
    exp = []  # ef=1: after node 2, node 3 (d² 4) is worse than the beam
    assert h._search_layer(np.zeros(1), [0], 1, 0, expanded=exp) == [(1.0, 2)]
    assert exp == [0, 2]


def test_vamana_search_visited_stamps_stay_isolated():
    """Back-to-back searches and build-style prefix walks share one
    visited-stamp array: no call may see another's visited state."""
    rng = np.random.default_rng(5)
    x = rng.normal(0, 1.0, (600, DIM))
    g = _VamanaShard(x, Metric.L2, r=12, build_l=32)
    g.build()
    q1, q2 = x[17], rng.normal(0, 1.0, DIM)
    first, other = g.search(q1, 32, 10), g.search(q2, 32, 10)
    g._search_layer(q2, [0], 32, 0, upto=200, expanded=[])
    assert g.search(q1, 32, 10) == first and g.search(q2, 32, 10) == other
    # an exhaustive beam over a medoid-reachable graph is brute force
    d = ((x - q1) ** 2).sum(axis=1)
    assert [n for _, n in g.search(q1, len(x), 10)] == np.argsort(d, kind="stable")[:10].tolist()


def test_dump_rejects_corrupt_link_ids(spark, index, emb, tmp_path):
    """A DiskANN dump whose stored links hold an id below 0 or at the
    shard size fails its search with the load-time "corrupt graph"
    error (the check test_hnsw pins for HNSW); it never returns rows."""
    import shutil

    from pyspark.sql import functions as F

    df, centers = emb
    src = str(tmp_path / "dump")
    index.save(src)
    graph = spark.read.parquet(f"{src}/graph")
    n0 = graph.where("_shard = 0").count()
    for bad_id in (-1, n0):
        dst = str(tmp_path / f"bad{bad_id}")
        shutil.copytree(src, dst, ignore=shutil.ignore_patterns("graph"))
        spliced = F.expr(f"array(concat(array({bad_id}), slice(_links[0], 2, size(_links[0]))))")
        bad = graph.withColumn(
            "_links",
            F.when((F.col("_shard") == 0) & (F.col("_node") == 3), spliced)
            .otherwise(F.col("_links")),
        )
        bad.write.partitionBy("_shard").parquet(f"{dst}/graph")
        loaded = DiskANNStaticIndex.load(spark, dst)
        try:
            with pytest.raises(Exception, match="corrupt graph"):
                loaded.search(df, centers[0].tolist(), limit=5).collect()
        finally:
            loaded.unpersist()


def test_vamana_search_plan_no_exchange_over_graph(index):
    """Inherited scale posture: the per-shard Vamana probe reads the
    cached shard-partitioned relation with NO new exchange — a search
    never reshuffles the graph (same pin as HNSW's)."""
    cand = index._candidates([[0.0] * DIM], 64, 64)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    live = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in live
    assert "FlatMapGroupsInPandas" in live


def test_robust_prune_ip_metric_shifted_nonnegative_domination():
    """Alpha-domination over negated inner products inverts
    for negative values (multiplying a negative by alpha>1 loosens the
    bound). The prune therefore shifts IP distances by the shard's max
    squared norm — an upper bound on |x.y| — so every distance the
    alpha rule sees is nonnegative while the IP ordering is untouched."""
    rng = np.random.default_rng(7)
    # non-unit norms + centered data -> plenty of NEGATIVE inner products
    vecs = rng.normal(0, 1.0, (300, DIM)) * rng.uniform(0.2, 5.0, (300, 1))
    g = _VamanaShard(vecs, Metric.INNER_PRODUCT, r=250, build_l=32, alpha=1.2)
    pool = list(range(1, 200))
    assert (g._dist_many(vecs[0], pool) < 0).any()  # raw IPs go negative
    assert (g._dist_prune(vecs[0], pool) >= 0).all()  # shifted never do
    out = g._robust_prune(0, pool, 1.2)
    assert len(out) < 250  # drained, not capped
    # domination holds in the SHIFTED geometry for every dropped candidate
    dp = g._dist_prune(vecs[0], pool)
    for j, v in enumerate(pool):
        if v in out:
            continue
        dom = g._dist_prune(vecs[v], out)
        assert (1.2 * dom <= dp[j]).any()


def test_vamana_ip_metric_recall_on_nonunit_norms():
    """End-to-end shard check for the IP fix: graph recall vs exact
    max-inner-product on corpora whose norms vary 25x. The clustered
    corpus is the regime the inverted rule collapsed in (0.075
    recall@10 pre-fix; the same build measures ~0.86 shifted)."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(0, 1.0, (2000, DIM)) * rng.uniform(0.2, 5.0, (2000, 1))
    rng2 = np.random.default_rng(3)
    c = rng2.normal(0, 1, (10, DIM))
    clustered = np.concatenate(
        [c[i] + 0.1 * rng2.normal(0, 1, (200, DIM)) for i in range(10)]
    ) * rng2.uniform(0.2, 5.0, (2000, 1))
    for corpus, floor, seed in ((vecs, 0.9, 12), (clustered, 0.7, 5)):
        g = _VamanaShard(corpus, Metric.INNER_PRODUCT, r=24, build_l=64,
                         alpha=1.2)
        g.build()
        r = np.random.default_rng(seed)
        hits, nq = 0, 20
        for _ in range(nq):
            q = r.normal(0, 1.0, DIM)
            exact = set(np.argsort(-(corpus @ q), kind="stable")[:10].tolist())
            got = {n for _, n in g.search(q, ef=64, k=10)}
            hits += len(exact & got)
        assert hits / (10 * nq) >= floor


def _fitted(emb):
    df, _ = emb
    return DiskANNStaticIndex(
        "embedding", Metric.L2, R=16, L=32, l_search=48,
        nshards=4, id_col="vec_id",
    ).fit(df)


def _rows(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_staged_append_searchable_before_rebuild(spark, emb, tmp_path):
    """add() on the static index puts rows in the delta — searchable
    immediately at zero rebuild cost, the graph untouched; the Vamana
    shard rebuild happens in the fold (the forcemerge hook), matching
    the reference's explicit-rebuild-verb semantics. remove() drops a
    delta row before any fold."""
    df, _ = emb
    idx = _fitted(emb)
    try:
        # append vectors far from every cluster so they are the exact top
        probe = [100.0] * DIM
        new = _rows(spark, [(999_001, [100.0] * DIM), (999_002, [99.0] * DIM)])
        before = {r.vec_id for r in idx.search(df, probe, limit=2).collect()}
        assert not {999_001, 999_002} & before
        idx.add(new)
        assert idx.needs_rebuild and idx.pending == 2  # a fold is pending
        # delta rows surface IMMEDIATELY, ahead of every graph row
        got = [r.vec_id for r in idx.search(df, probe, limit=3).collect()]
        assert got[:2] == [999_001, 999_002]
        b = idx.search_batch([probe], limit=2).collect()
        assert {r.vec_id for r in b} == {999_001, 999_002}
        # the graph relation itself is UNTOUCHED until the fold
        assert idx._base.where("vec_id >= 999000").count() == 0
        # remove() drops a delta row without touching the graph
        idx.remove([999_002])
        got3 = [r.vec_id for r in idx.search(df, probe, limit=2).collect()]
        assert 999_002 not in got3 and got3[0] == 999_001
        # the fold rebuilds the survivor's shard and clears the delta
        idx.fold()
        assert idx.pending == 0 and not idx.needs_rebuild
        assert idx._base.where("vec_id = 999001").count() == 1
        assert idx._base.where("vec_id = 999002").count() == 0
        got4 = [r.vec_id for r in idx.search(df, probe, limit=2).collect()]
        assert got4[0] == 999_001 and 999_002 not in got4
    finally:
        idx.unpersist()


def test_staged_update_buffer_wins_over_tombstoned_graph_row(spark, emb):
    """The Space write-sync order (remove old version -> add new) must
    surface the NEW vector: the graph row is tombstoned, the delta row
    is the only version a search sees, and the only one the fold
    keeps."""
    df, _ = emb
    idx = _fitted(emb)
    try:
        idx.remove([7])
        idx.add(_rows(spark, [(7, [50.0] * DIM)]))
        got = idx.search(df, [50.0] * DIM, limit=2).collect()
        assert got[0].vec_id == 7 and got[1].vec_id != 7
        # and its score reflects the NEW vector (exact zero distance)
        assert abs(got[0]._score) < 1e-9
        idx.fold()  # the static rebuild keeps the new version only
        live = idx._base.where("vec_id = 7 AND NOT _deleted").collect()
        assert len(live) == 1 and live[0].embedding == [50.0] * DIM
        # the outlier is medoid-reachable: an exhaustive beam finds it
        # (the l_search=48 beam, tuned for in-distribution queries, may not)
        got = idx.search(df, [50.0] * DIM, limit=1, ef_search=1_000_000).collect()
        assert [(r.vec_id, r._score) for r in got] == [(7, 0.0)]
    finally:
        idx.unpersist()


def test_save_folds_pending_rows(spark, emb, tmp_path):
    """save() folds first: the dump holds the base only (no staged/
    buffer), the pending rows live in its graph, and a loaded index has
    nothing pending."""
    import os

    df, _ = emb
    idx = _fitted(emb)
    p = str(tmp_path / "resave")
    try:
        idx.add(_rows(spark, [(999_101, [100.0] * DIM)]))
        idx.save(p)
        assert idx.pending == 0
        assert not os.path.isdir(os.path.join(p, "staged"))
        idx2 = DiskANNStaticIndex.load(spark, p)
        try:
            assert idx2.pending == 0 and not idx2.needs_rebuild
            assert idx2._base.where("vec_id = 999101 AND NOT _deleted").count() == 1
            got = [r.vec_id for r in idx2.search(df, [100.0] * DIM, limit=1).collect()]
            assert got == [999_101]
        finally:
            idx2.unpersist()
    finally:
        idx.unpersist()


def test_staged_merge_failure_restores_buffer(spark, emb, monkeypatch):
    """A fold whose rebuild job dies leaves the base, the delta and the
    tombstones as they were: the rows stay searchable and the fold is
    retryable."""
    from vearch_spark.operators import hnsw

    df, _ = emb
    idx = _fitted(emb)
    try:
        probe = [100.0] * DIM
        idx.remove([3])
        idx.add(_rows(spark, [(999_201, [100.0] * DIM)]))
        state = idx._state

        def boom(*a, **kw):
            raise RuntimeError("executor lost")

        monkeypatch.setattr(hnsw.HNSWIndex, "_grow", boom)
        with pytest.raises(RuntimeError):
            idx.fold()
        monkeypatch.undo()
        assert idx._state is state
        assert idx.needs_rebuild
        got = [r.vec_id for r in idx.search(df, probe, limit=1).collect()]
        assert got == [999_201]
        idx.fold()
        assert idx.pending == 0
        assert idx._base.where("vec_id = 999201").count() == 1
        assert idx._base.where("vec_id = 3 AND NOT _deleted").count() == 0
    finally:
        idx.unpersist()


def test_staged_append_cost_is_per_batch(spark, emb):
    """Each append encodes only its own batch, in ONE Spark job, and the
    delta's relation is rebuilt from the driver-held rows: its plan has
    no cached parent however many batches arrived."""
    import uuid

    idx = _fitted(emb)
    sc = spark.sparkContext
    try:
        for i in range(5):
            group = f"append-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "append")
            try:
                idx.add(_rows(spark, [(999_300 + i, [100.0 + i] * DIM)]))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        assert idx._state.rows.num_rows == 5
        plan = idx._delta()._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan
        got = {r.vec_id for r in idx.search(None, [100.0] * DIM, limit=6).collect()}
        assert {999_300 + i for i in range(5)} <= got
    finally:
        idx.unpersist()


def test_staged_compaction_default_bound_and_search_exactness(spark, emb):
    """The fold is invisible to results: search over base ∪ delta equals
    search over the folded base hash-exactly (same rows, same scores).
    At the default bound a write that leaves more than
    min(FOLD_SHARE·base rows, FOLD_MAX) ids pending folds at once, and
    no staged row is lost across repeated folds."""
    df, _ = emb
    idx = _fitted(emb)
    try:
        probe = [100.0] * DIM
        for i in range(15):
            idx.add(_rows(spark, [
                (999_500 + 2 * i, [100.0 + i * 0.25] * DIM),
                (999_501 + 2 * i, [101.0 + i * 0.25] * DIM),
            ]))
        assert idx.pending == 30
        pre = sorted((r.vec_id, r._score) for r in idx.search(df, probe, limit=25).collect())
        idx.fold()
        post = sorted((r.vec_id, r._score) for r in idx.search(df, probe, limit=25).collect())
        assert post == pre  # hash-exact: same ids AND same scores
        assert (idx.FOLD_SHARE, idx.FOLD_MAX) == (0.2, 4096)  # the documented bound
        bound = min(idx.FOLD_SHARE * (N + 30), idx.FOLD_MAX)
        for i in range(9):
            idx.add(_rows(spark, [(999_600 + 100 * i + j, [90.0 + i] * DIM) for j in range(100)]))
            assert idx.pending <= bound
        assert idx.pending < 9 * 100  # the bound folded on the way
        idx.fold()
        live = idx._base.where("vec_id >= 999500 AND NOT _deleted")
        assert live.count() == live.select("vec_id").distinct().count() == 30 + 900
    finally:
        idx.unpersist()
