"""fvecs / ivecs readers — the TEXMEX ANN-benchmark formats the
reference's recall harness loads (test/utils/data_utils.py:38-45;
datasets per internal/engine/benchs/README.md: SIFT1M etc.).

Wire format per vector: ``int32 dim`` (little-endian) followed by
``dim`` components — float32 (fvecs) or int32 (ivecs).
All vectors in a file share one dimension.

Spark-first shape: files load through the ``binaryFile`` source (so a
directory of shard files parallelizes file-per-task) and each blob is
sliced into rows by a numpy ``frombuffer`` reshape inside
``mapInPandas`` — no Python loop per vector. ``vec_id`` is the global
position: files are ordered by path and each carries its cumulative
row offset, matching the ground-truth ids of the companion ivecs
files. For corpora beyond one task per file, pre-shard the file (the
record stride is constant, so byte-range splitting is exact)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

_COMPONENT = {
    "fvecs": (np.float32, T.FloatType()),
    "ivecs": (np.int32, T.IntegerType()),
}


def _read_dim_header(spark: SparkSession, path: str) -> int:
    """Read a file's leading little-endian int32 (the per-record dim)
    via the Hadoop FileSystem API: exactly 4 bytes cross to the driver,
    and the same code path serves file://, hdfs:// and s3a:// URIs."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    stream = fs.open(jpath)
    try:
        raw = [stream.read() for _ in range(4)]
    finally:
        stream.close()
    if any(b < 0 for b in raw):  # EOF before 4 bytes
        raise ValueError(f"{path}: shorter than a {path.rsplit('.', 1)[-1]} header")
    return int(np.frombuffer(bytes(raw), dtype="<i4")[0])


def _read(spark: SparkSession, path: str, kind: str) -> DataFrame:
    dtype, spark_elem = _COMPONENT[kind]
    itemsize = np.dtype(dtype).itemsize

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*.{kind}")
        .load(path)
        .select("path", "length", "content")
    )
    # cumulative row offset per file (path order), computed from sizes
    # only — tiny driver-side listing, content stays executor-side
    sizes = [(r.path, r.length) for r in files.select("path", "length").collect()]
    sizes.sort()
    if not sizes:
        raise FileNotFoundError(f"no .{kind} files under {path}")
    # dims are constant per format family; read the first file's 4-byte
    # header through the Hadoop FS API — a binaryFile .first() would
    # materialize the whole shard (multi-GB for bigann) on the driver
    # just to slice 4 bytes
    dim = _read_dim_header(spark, sizes[0][0])
    stride = 4 + dim * itemsize
    offsets: dict[str, int] = {}
    base = 0
    for p, length in sizes:
        if length % stride:
            raise ValueError(f"{p}: size {length} not a multiple of record stride {stride}")
        offsets[p] = base
        base += length // stride

    b_offsets = spark.sparkContext.broadcast(offsets)

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for path_v, blob in zip(pdf["path"], pdf["content"]):
                raw = np.frombuffer(blob, dtype=np.uint8).reshape(-1, stride)
                dims = raw[:, :4].copy().view("<i4").ravel()
                if not (dims == dim).all():
                    raise ValueError(f"{path_v}: inconsistent dims in file")
                vecs = raw[:, 4:].copy().view(np.dtype(dtype).newbyteorder("<"))
                start = b_offsets.value[path_v]
                yield pd.DataFrame(
                    {
                        "vec_id": np.arange(start, start + len(raw), dtype=np.int64),
                        "vector": list(vecs.astype(np.float32 if kind == "fvecs" else np.int32)),
                    }
                )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("vector", T.ArrayType(spark_elem), False),
        ]
    )
    return files.select("path", "content").mapInPandas(parse, schema=schema)


def read_fvecs(spark: SparkSession, path: str) -> DataFrame:
    """float32 vectors → (vec_id long, vector array<float>)."""
    return _read(spark, path, "fvecs")


def read_ivecs(spark: SparkSession, path: str) -> DataFrame:
    """int32 vectors (ground-truth neighbor ids) → array<int>."""
    return _read(spark, path, "ivecs")
