"""One index dump format (Engine::Dump, engine.cc:1246): every index
class round-trips its constructor keywords and its search rows through
save/load, and a damaged engine file fails typed at load — or, for an
index dump, leaves the field UNINDEXED with exact search."""

import os
import re

import numpy as np
import pytest

from vearch_spark.errors import SchemaError
from vearch_spark.operators.hnsw import HNSWIndex
from vearch_spark.operators.ivf import (
    BinaryIVFIndex,
    IVFFlatIndex,
    IVFPQFastScanIndex,
    IVFPQIndex,
    IVFRaBitQIndex,
    ScannIndex,
    TwoLevelIVFFlatIndex,
)
from vearch_spark.operators.vamana import DiskANNStaticIndex
from vearch_spark.registry import Registry
from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, Metric, SpaceSchema

DIM = 8
N = 120

# every class with non-default keywords, so a dropped one shows
CASES = {
    "IVFFlatIndex": lambda: IVFFlatIndex(
        "embedding", Metric.INNER_PRODUCT, ncentroids=4, nprobe=2,
        id_col="vec_id", seed=7, coarse_train_sample=100,
    ),
    "IVFRaBitQIndex": lambda: IVFRaBitQIndex(
        "embedding", Metric.L2, ncentroids=4, nprobe=2, id_col="vec_id",
        seed=7, coarse_train_sample=100, rerank_k=20,
    ),
    "IVFPQIndex": lambda: IVFPQIndex(
        "embedding", Metric.L2, ncentroids=4, nprobe=2, nsubvector=4, nbits=4,
        rerank_k=20, train_sample=90, id_col="vec_id", seed=7,
        by_residual=False, coarse_train_sample=100,
    ),
    "IVFPQFastScanIndex": lambda: IVFPQFastScanIndex(
        "embedding", Metric.L2, ncentroids=4, nprobe=2, nsubvector=4,
        rerank_k=20, train_sample=90, id_col="vec_id", seed=7,
    ),
    "ScannIndex": lambda: ScannIndex(
        "embedding", Metric.L2, ncentroids=4, nprobe=2, nsubvector=4,
        rerank_k=20, id_col="vec_id", seed=7, coarse_train_sample=100,
    ),
    "TwoLevelIVFFlatIndex": lambda: TwoLevelIVFFlatIndex(
        "embedding", Metric.L2, ncentroids_l1=2, ncentroids_l2=2, nprobe=3,
        id_col="vec_id", seed=7, l2_fit="distributed",
    ),
    "BinaryIVFIndex": lambda: BinaryIVFIndex(
        "code", ncentroids=4, nprobe=2, id_col="vec_id", seed=7,
        coarse_train_sample=100,
    ),
    "HNSWIndex": lambda: HNSWIndex(
        "embedding", Metric.L2, nlinks=6, efConstruction=20, efSearch=30,
        shard_max_rows=50, id_col="vec_id",
    ),
    "DiskANNStaticIndex": lambda: DiskANNStaticIndex(
        "embedding", Metric.L2, R=8, L=20, l_search=30, alpha=1.3,
        beam_width=4, nshards=2, id_col="vec_id",
    ),
}


def _vectors(spark, n, seed=5):
    rng = np.random.default_rng(seed)
    x = rng.normal(0, 5, (4, DIM))[np.arange(n) % 4] + rng.normal(0, 1, (n, DIM))
    return spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture(scope="module")
def tables(spark):
    rng = np.random.default_rng(6)
    codes = spark.createDataFrame(
        [(int(i), [int(b) for b in rng.integers(0, 256, 4)]) for i in range(N)],
        "vec_id long, code array<int>",
    )
    return {"embedding": _vectors(spark, N), "code": codes}


@pytest.mark.parametrize("kind", sorted(CASES))
def test_save_load_round_trips_params_and_rows(spark, tables, tmp_path, kind):
    idx = CASES[kind]()
    df = tables[idx.vector_col]
    idx.fit(df)
    q = list(df.where("vec_id = 3").first()[1])
    want = idx.search(None, q, limit=5).collect()
    p = str(tmp_path / kind)
    idx.save(p)
    loaded = type(idx).load(spark, p)
    try:
        assert type(loaded) is type(idx)
        assert loaded._params() == idx._params()
        assert loaded.search(None, q, limit=5).collect() == want
    finally:
        idx.unpersist()
        loaded.unpersist()


def test_loaded_auto_sized_hnsw_resizes_on_refit(spark, tmp_path):
    """``nshards=None`` survives the dump, so refit stays the remedy
    for ``needs_rebuild`` on a loaded index too."""
    idx = HNSWIndex("embedding", Metric.L2, nlinks=6, efConstruction=20,
                    shard_max_rows=8, id_col="vec_id").fit(_vectors(spark, 16))
    assert idx.nshards == 2
    p = str(tmp_path / "hnsw")
    idx.save(p)
    idx.unpersist()
    loaded = HNSWIndex.load(spark, p)
    assert loaded.nshards == 2  # routing for add() is the fitted count
    loaded.fit(_vectors(spark, 60))
    assert loaded.nshards == 8  # ceil(60/8)
    loaded.unpersist()


def test_load_rejects_other_kind_and_incomplete_dump(spark, tables, tmp_path):
    idx = IVFPQIndex("embedding", Metric.L2, ncentroids=4, nprobe=2,
                     nsubvector=4, id_col="vec_id").fit(tables["embedding"])
    p = str(tmp_path / "pq")
    idx.save(p)
    idx.unpersist()
    with pytest.raises(SchemaError, match="IVFPQIndex"):
        IVFFlatIndex.load(spark, p)
    os.remove(os.path.join(p, "codebooks.npy"))
    with pytest.raises(SchemaError, match="codebooks.npy"):
        IVFPQIndex.load(spark, p)


def _space_schema():
    return SpaceSchema(
        name="s",
        fields=[
            FieldSpec(
                "field_vector",
                FieldType.VECTOR,
                dimension=DIM,
                index=IndexSpec(
                    "field_vector",
                    "IVFFLAT",
                    params={"ncentroids": 8, "nprobe": 3, "training_threshold": 50},
                ),
            ),
        ],
    )


@pytest.mark.parametrize(
    "name",
    [
        "_CATALOG.json",
        "_SPACE.json",
        "_CURRENT",
        "indexes/meta.json",
        "indexes/field_vector/params.json",
    ],
)
def test_damaged_engine_file(spark, tmp_path, name):
    """A truncated space or catalog file fails the open with a
    SchemaError naming it; a truncated index file leaves the space
    openable, the field UNINDEXED and search exact."""
    root = str(tmp_path / "cat")
    reg = Registry(spark, root=root)
    reg.create_db("db")
    sp = reg.create_space("db", _space_schema())
    x = _vectors(spark, 200).collect()
    sp.upsert([{"_id": str(r.vec_id), "field_vector": list(r.embedding)} for r in x])
    sp.build_index("field_vector")
    target = os.path.join(root if name == "_CATALOG.json" else sp.path, name)
    with open(target, "r+") as fh:
        fh.truncate(os.path.getsize(target) // 2)

    if not name.startswith("indexes/"):
        with pytest.raises(SchemaError, match=re.escape(name)):
            Registry.load(spark, root).space("db", "s")
        return
    reopened = Registry.load(spark, root).space("db", "s")
    assert reopened.index_state("field_vector") == "UNINDEXED"
    q = list(x[3].embedding)
    exact = reopened.search(vector=q, limit=10, is_brute_search=1).collect()
    assert reopened.search(vector=q, limit=10).collect() == exact
    # the next build re-dumps it and a reopen serves the index again
    reopened.build_index("field_vector")
    assert Registry.load(spark, root).space("db", "s").index_state(
        "field_vector"
    ) == "INDEXED"


def _indexed_space(spark, tmp_path):
    from vearch_spark.space import Space

    sp = Space(spark, _space_schema(), path=str(tmp_path / "s"), n_buckets=4)
    x = _vectors(spark, 200).collect()
    sp.upsert([{"_id": str(r.vec_id), "field_vector": list(r.embedding)} for r in x])
    sp.build_index("field_vector")
    return sp, os.path.join(sp.path, "indexes")


def test_vacuum_reclaims_orphaned_index_staging(spark, tmp_path):
    """An index dump that crashed before its rename leaves an
    ``indexes/.<field>.<uuid>`` dir; vacuum reclaims it once past the
    grace window the table's staging dirs use, and leaves a young one
    (a dump in flight) and the live dump alone."""
    import time

    sp, root = _indexed_space(spark, tmp_path)
    old = os.path.join(root, ".field_vector." + "0" * 32)
    young = os.path.join(root, ".field_vector." + "1" * 32)
    os.makedirs(os.path.join(old, "assigned"))
    os.makedirs(young)
    stale = time.time() - 7200
    for p in (old, os.path.join(old, "assigned")):
        os.utime(p, (stale, stale))
    sp.vacuum()
    assert not os.path.exists(old)
    assert os.path.exists(young)
    assert os.path.exists(os.path.join(root, "field_vector", "params.json"))


def test_failed_index_dump_leaves_no_staging_dir(spark, tmp_path, monkeypatch):
    sp, root = _indexed_space(spark, tmp_path)
    model = sp._indexes["field_vector"]

    def save(path):
        os.makedirs(os.path.join(path, "assigned"))
        raise OSError("disk full")

    monkeypatch.setattr(model, "save", save)
    with pytest.raises(OSError, match="disk full"):
        sp._persist_index("field_vector", model)
    assert sorted(os.listdir(root)) == ["field_vector", "meta.json"]


def test_load_rejects_dump_holding_staged_dir(spark, tmp_path):
    """A dump is the base only. One that still holds a ``staged/``
    buffer of unfolded rows (the older DiskANN format) is refused with a
    SchemaError naming it, so a reopened space reports UNINDEXED and
    searches exactly instead of serving a dump that is missing rows."""
    from vearch_spark.space import Space

    sp, root = _indexed_space(spark, tmp_path)
    dump = os.path.join(root, "field_vector")
    os.makedirs(os.path.join(dump, "staged"))
    with pytest.raises(SchemaError, match="staged"):
        IVFFlatIndex.load(spark, dump)
    reopened = Space(spark, _space_schema(), path=sp.path)
    assert reopened.index_state("field_vector") == "UNINDEXED"
