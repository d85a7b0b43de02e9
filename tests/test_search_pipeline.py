"""The one search pipeline: probe, prune, filter, screen, score, band,
order, page. Every index family runs it through the same keywords, and
single and batched search agree row for row on the same request."""

import inspect

import numpy as np
import pytest

from vearch_spark.operators import hnsw, ivf, topk, vamana
from vearch_spark.plans import explain as X
from vearch_spark.schema import FieldSpec, FieldType, IndexSpec, SpaceSchema
from vearch_spark.space import Space

N = 40


def _space(spark, index_type, dim, values):
    sch = SpaceSchema(
        name=f"pipe_{index_type.lower()}",
        fields=[
            FieldSpec("tag", FieldType.INT, index=IndexSpec("tag", "SCALAR")),
            FieldSpec(
                "v", FieldType.VECTOR, dimension=dim,
                index=IndexSpec("v", index_type, params={
                    "ncentroids": 4, "nprobe": 4, "training_threshold": 10,
                }),
            ),
        ],
    )
    sp = Space(spark, sch)
    docs = [{"_id": f"d{i:02d}", "tag": i, "v": v} for i, v in enumerate(values)]
    docs.append({"_id": "novec", "tag": -1})  # a document without a vector
    sp.upsert(docs)
    return sp


def _float_values(rng):
    # small integer grid: many exact score ties, broken by _id
    return [[float(x) for x in rng.integers(0, 3, 4)] for _ in range(N)]


def _code_values(rng):
    # 16-bit packed codes: Hamming ties are dense
    return [[int(b) for b in rng.integers(0, 256, 2)] for _ in range(N)]


CASES = [
    # (index type, dimension, values, brute flag, score band)
    ("FLAT", 4, _float_values, 1, (1.0, 6.0)),
    ("IVFFLAT", 4, _float_values, 0, (1.0, 6.0)),
    ("BINARYIVF", 16, _code_values, 0, (3, 9)),
]


@pytest.mark.parametrize("index_type,dim,make,brute,band", CASES)
def test_batch_rows_equal_single_search_rows(spark, index_type, dim, make, brute, band):
    """For each query of a batch, the batch rows equal what a single
    search returns: same ids, same scores, ties by id. The exact path
    takes offset and the score band in both verbs; the index batch
    relation ranks every probed row, so banding and slicing its full
    ranking must give the single search's page."""
    rng = np.random.default_rng(5)
    values = make(rng)
    sp = _space(spark, index_type, dim, values)
    if index_type != "FLAT":
        sp.build_index("v")
        assert sp.index_state("v") == "INDEXED"
    queries = [values[3], make(rng)[0]]
    lo, hi = band
    for offset, mn, mx in ((0, None, None), (2, lo, hi)):
        singles = [
            [(r._id, r._score) for r in sp.search(
                vector=q, limit=5, offset=offset, min_score=mn, max_score=mx,
                is_brute_search=brute, nprobe=4, output_fields=["tag"],
            ).collect()]
            for q in queries
        ]
        if brute:
            rows = sp.search_batch(
                queries, limit=5, offset=offset, min_score=mn, max_score=mx,
                is_brute_search=1, output_fields=["tag"],
            ).collect()
            batched = [
                _ordered([(r._id, r._score) for r in rows if r.query_id == i])
                for i in range(len(queries))
            ]
        else:
            rows = sp.search_batch(
                queries, limit=N + 1, is_brute_search=0, nprobe=4
            ).collect()
            batched = []
            for i in range(len(queries)):
                ranked = _ordered([(r._id, r._score) for r in rows if r.query_id == i])
                if mn is not None:
                    ranked = [h for h in ranked if mn <= h[1] <= mx]
                batched.append(ranked[offset:offset + 5])
        assert batched == singles, (index_type, offset)
        # a document without a vector is never a hit
        assert all(h[0] != "novec" for hits in singles for h in hits)


def _ordered(hits):
    # ascending score (L2 and Hamming), ties by id
    return sorted(hits, key=lambda h: (h[1], h[0]))


def _index_classes():
    return [
        cls
        for mod in (ivf, hnsw, vamana)
        for name, cls in vars(mod).items()
        if inspect.isclass(cls)
        and cls.__module__ == mod.__name__
        and name.endswith("Index")
    ]


@pytest.mark.parametrize("verb", ["search", "search_batch"])
def test_every_index_exposes_the_same_search_keywords(verb):
    classes = _index_classes()
    assert {c.__name__ for c in classes} >= {
        "IVFFlatIndex", "IVFPQIndex", "IVFRaBitQIndex", "ScannIndex",
        "BinaryIVFIndex", "TwoLevelIVFFlatIndex", "HNSWIndex",
        "DiskANNStaticIndex",
    }
    shapes = {
        c.__name__: list(inspect.signature(getattr(c, verb)).parameters)
        for c in classes
    }
    first = shapes["IVFFlatIndex"]
    assert "nprobe" in first and "ef_search" in first
    assert all(p == first for p in shapes.values()), shapes


def test_quantized_indexes_share_the_ivf_search_body():
    """RaBitQ and PQ only screen; ScaNN only assigns codes (FastScan's
    encode pass, LUTs and screen are its own); BINARYIVF only trains
    and probes — the search and batch bodies are IVFFLAT's."""
    for cls in (ivf.IVFRaBitQIndex, ivf.IVFPQIndex, ivf.ScannIndex, ivf.BinaryIVFIndex):
        assert cls.search is ivf.IVFFlatIndex.search
        assert cls.search_batch is ivf.IVFFlatIndex.search_batch
    assert issubclass(ivf.ScannIndex, ivf.IVFPQFastScanIndex)
    fs = ivf.IVFPQFastScanIndex
    for hook in ("_screen", "_augment", "_pq_cell_luts"):
        assert getattr(ivf.ScannIndex, hook) is getattr(fs, hook)


def test_binary_exact_search_is_take_ordered_no_shuffle(spark):
    df = spark.createDataFrame(
        [(i, [i % 256, (7 * i) % 256]) for i in range(64)],
        "vec_id long, code array<int>",
    )
    out = topk.search(df, "code", [0, 0], limit=5, id_col="vec_id", binary=True)
    assert X.uses_take_ordered(out)
    assert X.count_exchanges(out) == 0
    assert out.columns == ["vec_id", "_score"]  # codes are not projected
    best = out.first()
    assert best.vec_id == 0 and best._score == 0
