"""Space: a schema'd document collection backed by parquet.

Maps the reference's space + document verbs (SURVEY.md §2.1) onto an
append-only columnar table with last-write-wins (LWW) upsert semantics:

- reference storage is a RocksDB row store + raft-replicated shards with
  soft-delete bitmaps (storage_manager.h:27-57, gamma_common_data.h:108-114);
  on Spark the durable form is columnar parquet (Delta ``MERGE`` in
  production; here a versioned parquet directory with an atomic current-
  version pointer, same read semantics);
- ``docid`` (dense per-partition int assigned at ingest,
  engine.cc:730-752) becomes ``_seq`` — a monotonically increasing
  ingest sequence that is *stable across updates* (the reference keeps
  the docid when a key is updated in place, engine.cc:747) and defines
  the query verb's scan order (engine.cc:449-528);
- upsert = insert-or-replace by ``_id`` (Engine::AddOrUpdate
  engine.cc:697-785); partial update patches named fields only
  (Engine::Update engine.cc:831-867); deletes are hard (the bitmap
  disappears with columnar storage);
- get-by-ids caps at 500 ids (doc_http.go:579-583);
- ``flush`` is a no-op (Spark writes are durable — engine.cc:1246's
  Dump has no Spark analog).

Durable layout (path-backed spaces) is **hash-bucketed + versioned**,
mirroring the reference's hash routing (doc routed by
``murmur3.Sum32(_id)`` over slot ranges, client.go:245,
space.go:210-236): every row lives in bucket ``xxhash64(_id) mod
n_buckets``, each version directory ``{path}/v{n}`` holds only the
buckets that commit rewrote, and a JSON manifest (``_CURRENT``) maps
bucket → version. A 1-row update therefore rewrites exactly 1 bucket
(~1/n_buckets of the table), not the table — the same bounded-rewrite
contract Delta/Iceberg MERGE gives via file-level rewrite + manifest
pointers, which is what this layout stands in for at 100 TB (there,
``n_buckets`` is thousands and each bucket is a handful of files).
The atomic commit is the manifest swap (write-temp + rename).
"""

from __future__ import annotations

import math
import os
import struct
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from vearch_spark.errors import (
    ConcurrentWriteError,
    DocumentError,
    SchemaError,
    SearchError,
)
from vearch_spark.filters import compile_filter, isin_sql
from vearch_spark.functions.distance import l2_normalize, l2_normalize_fast
from vearch_spark.operators import sort as sort_ops
from vearch_spark.operators import topk
from vearch_spark.operators.fusion import (
    VectorQuery,
    fusion_weights,
    multi_vector_search,
)
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
from vearch_spark.persist import read_json, write_json
from vearch_spark.schema import (
    ID_FIELD,
    PARTITION_FIELD,
    SCORE_FIELD,
    SEQ_FIELD,
    FieldSpec,
    FieldType,
    Metric,
    PartitionRule,
    SpaceSchema,
    expected_vector_len as _expected_vector_len,
    is_binary_field as _is_binary_field,
)

GET_BY_IDS_CAP = 500  # doc_http.go:579-583


_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int: the hash behind
    Spark's ``xxhash64`` (seed 42, a string hashed as its UTF-8
    bytes, little-endian lanes)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i <= n - 32:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_xxh64_round(a, lane) for a, lane in zip(v, lanes)]
            i += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12) + _rotl64(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xxh64_round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl64(h ^ _xxh64_round(0, lane), 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl64(h ^ (lane * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl64(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def _signed64(h: int) -> int:
    """An unsigned 64-bit int as the Java long with the same bits."""
    return h - (1 << 64) if h >> 63 else h


def _check_scalar_value(spec, value) -> None:
    """Reject a scalar value whose python type cannot represent the
    field (the engine's CheckDoc value validation, engine.cc:787-829).
    DATE accepts str/datetime (the documented literal coercion)."""
    t = spec.type
    ok = True
    if t in (FieldType.INT, FieldType.LONG):
        ok = isinstance(value, int) and not isinstance(value, bool)
    elif t in (FieldType.FLOAT, FieldType.DOUBLE):
        ok = isinstance(value, (int, float)) and not isinstance(value, bool)
    elif t is FieldType.STRING:
        ok = isinstance(value, str)
    elif t is FieldType.BOOL:
        ok = isinstance(value, bool)
    elif t is FieldType.STRING_ARRAY:
        ok = isinstance(value, (list, tuple)) and all(
            isinstance(v, str) for v in value
        )
    if not ok:
        raise DocumentError(
            f"field {spec.name!r} ({t.value}) cannot accept {value!r}"
        )
# delete_by_query returns the matched ids driver-side (reference
# response parity); the cap bounds that list — beyond it, callers must
# use the DataFrame-returning delete_by_query_df
DELETE_BY_QUERY_ID_CAP = 100_000

# brute_force_search_threshold gamma_common_data.h:28 — auto mode refuses
# index search until the index is trained; below this doc count brute
# force is always used.
BRUTE_FORCE_THRESHOLD = 100

SLOW_POOL = "vearch-slow"  # ps/handler_document.go:215-224 pool analog

# Below this batch size a single-partition rank window is cheaper than a
# range shuffle (the reference caps one bulk request well under this —
# doc_http.go:467 routes per-doc); above it _rank_by_id keeps the rank
# computation distributed.
_RANK_WINDOW_MAX = 10_000


# seq = (range_partition_id << 32) + local row number: same addressing
# scheme as the reference, where a doc is (partition_id, per-partition
# dense docid) — engine.cc:730-752 assigns docid locally and the router
# scopes it with partition_id.
_SEQ_STRIDE_BITS = 32


def _rank_by_id(df: DataFrame, out_col: str) -> DataFrame:
    """Attach ``out_col`` = a unique long, monotone in ``_id`` order,
    without a no-PARTITION-BY window (WindowExec would move the whole
    batch to one task — fatal on a large load). Range-repartition on
    ``_id`` (so partition i holds strictly smaller ids than partition
    i+1), then rank = ``(partition_id << 32) | row_number-within-
    partition``. Values are NOT dense — ``_seq`` semantics only need
    ingest-order monotonicity and stability, which gaps preserve.
    Single pass: one range shuffle plus a per-partition window, no
    driver-side collect, no caching."""
    spark = df.sparkSession
    nparts = max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    parted = df.repartitionByRange(nparts, F.col(ID_FIELD)).withColumn(
        "_pid", F.spark_partition_id().cast("long")
    )
    w = Window.partitionBy("_pid").orderBy(ID_FIELD)
    return parted.withColumn(
        out_col,
        (F.shiftleft(F.col("_pid"), _SEQ_STRIDE_BITS) + F.row_number().over(w)).cast(
            "long"
        ),
    ).drop("_pid")


def _with_id_rank(df: DataFrame, out_col: str, n: int) -> DataFrame:
    """Rank-by-_id dispatch: tiny batches use the plain window (dense,
    no shuffle worth saving), large ones the distributed strided form."""
    if n <= _RANK_WINDOW_MAX:
        # the unpartitioned window here logs Spark's "No Partition
        # Defined" warning — intentional: input is bounded ≤
        # _RANK_WINDOW_MAX by the branch, and a constant partition key
        # would be stripped by Spark 4's EliminateWindowPartitions
        # anyway; the distributed strided form below is the scale path
        w = Window.orderBy(ID_FIELD)
        return df.withColumn(out_col, F.row_number().over(w).cast("long"))
    return _rank_by_id(df, out_col)


def _count_conditions(flt: dict | Column | None) -> int:
    """Condition count of a reference-shaped filter dict (range + term
    filters, doc_query.go:231) — nested groups count their leaves."""
    if not isinstance(flt, dict):
        return 0
    n = 0
    for cond in flt.get("conditions", []):
        if isinstance(cond, dict) and "conditions" in cond:
            n += _count_conditions(cond)
        else:
            n += 1
    return n


def is_slow_search(
    limit: int,
    flt: dict | Column | None = None,
    nprobe: int | None = None,
    index=None,
) -> bool:
    """parseSlowSearch (doc_query.go:218-234): slow iff topN ≥ 500, or
    an IVF probe covers ≥ ncentroids/10 cells, or ≥ 3 filters."""
    if limit >= 500:
        return True
    if index is not None:
        ncent = getattr(index, "ncentroids", 0)
        probe = nprobe if nprobe is not None else getattr(index, "nprobe", 0)
        if ncent and probe >= ncent // 10:
            return True
    return _count_conditions(flt) >= 3


#: transient routing column used only inside :meth:`Space._commit`
_BUCKET_COL = "_bp"


_TWO_LEVEL = "IVFFLAT/two-level"  # IVFFLAT declared with ncentroids_l2
_IVF_KNOBS = {"ncentroids", "nprobe", "nsubvector", "nbits", "rerank_k"}

#: the one index-type table: physical type → (index class, the
#: reference knob names ``build_index`` passes it). A reopen resolves
#: dump kinds against the same classes.
_INDEX_TYPES: dict[str, tuple[type, set[str]]] = {
    "IVFFLAT": (IVFFlatIndex, _IVF_KNOBS),
    _TWO_LEVEL: (
        TwoLevelIVFFlatIndex,
        {"ncentroids_l1", "ncentroids_l2", "nprobe", "nprobe_l1"},
    ),
    "IVFPQ": (IVFPQIndex, _IVF_KNOBS),
    # FastScan is a distinct physical path: 4-bit codes +
    # int8-quantized LUT screen (gamma_index_ivfpqfs.cc:36)
    "IVFPQFASTSCAN": (IVFPQFastScanIndex, _IVF_KNOBS),
    "IVFRABITQ": (IVFRaBitQIndex, _IVF_KNOBS),
    "SCANN": (ScannIndex, _IVF_KNOBS),
    # Hamming over packed d/8-byte codes (doc_query.go:296-301); no
    # float metric applies
    "BINARYIVF": (BinaryIVFIndex, {"ncentroids", "nprobe"}),
    # the reference's graph knobs (space.go:345-374)
    "HNSW": (HNSWIndex, {"nlinks", "efConstruction", "efSearch", "nshards"}),
    # diskann_static_params.cc knob names (beam_width advisory)
    "DISKANN_STATIC": (DiskANNStaticIndex, {"R", "L", "l_search", "beam_width", "nshards"}),
}


class Space:
    """One document collection. ``path=None`` keeps the table in memory
    (cached DataFrame) — the test mode; with a path, the durable form
    is the bucketed+versioned parquet layout described in the module
    docstring (``n_buckets`` defaults to 16 for local runs; size it so
    one bucket ≈ a few parquet files at the deployed scale)."""

    def __init__(
        self,
        spark: SparkSession,
        schema: SpaceSchema,
        path: str | None = None,
        n_buckets: int = 16,
        refresh_interval: int = 1000,
    ):
        self.spark = spark
        self.schema = schema
        self.path = path
        self.n_buckets = max(1, int(n_buckets))
        # the space-config surface (GET/POST /config/{db}/{space}) —
        # entity.SpaceConfig keys (space.go:155-165), partial-merge
        # update semantics (UpdateSpaceConfig config_service.go:97-133).
        # refresh_interval default 1000 ms (space.go:71); here it is the
        # trigger of a stream that adds micro-batches to an index's delta
        # (streaming/realtime.py stream_ingest), not a background loop.
        self._config: dict = {
            "engine_cache_size": None,  # accepted, advisory under Spark
            "path": path,
            "slow_search_time": None,  # slow-search log threshold (ms)
            "refresh_interval": int(refresh_interval),
            "enable_id_cache": False,  # space.go:72 default
        }
        self._df: DataFrame | None = None
        self._df_man_version: int | None = None  # manifest version _df reflects
        self._data_schema = None  # bucket files' schema, see _read_schema
        self._max_seq = 0
        self._manifest: dict | None = None  # path mode: bucket -> version map
        self._indexes: dict[str, object] = {}  # field -> trained index model
        self._resource_exhausted = False  # cluster resource-limit gate
        self._memory_gate = None  # registry-wired memory-pressure gate
        # cluster-level gates a rooted Registry wires in (Registry._wire):
        # the RBAC store (api verbs' BasicAuthMiddleware analog), the
        # document-request limiter (HttpLimitMiddleware), and the
        # slow-search-isolation switch (entity.SlowSearchIsolationEnabled,
        # config.go:55 — default true)
        self._auth = None
        self._limiter = None
        self._slow_search_isolation = True
        if path:
            os.makedirs(path, exist_ok=True)
            meta = self._load_space_meta()
            if meta is not None:
                # the on-disk metadata is authoritative (the reference
                # master's etcd SpaceProperties survive restarts and
                # win over whatever a reattaching client passes —
                # space_service.go loads, never re-creates): schema
                # mutations (partition-rule ADD/DROP, remove_index) and
                # config updates made by a PREVIOUS session must not be
                # silently undone by reattaching with the stale
                # create-time schema. Corollary: to CREATE a space with
                # a genuinely new schema at a previously used path,
                # delete the directory first (Registry.drop_space does
                # this for registry-owned storage) — same-name reuse
                # deliberately reattaches, it never re-creates
                stored = SpaceSchema.from_json(meta["schema"])
                if stored.name != schema.name:
                    raise SchemaError(
                        f"path {path!r} already holds space "
                        f"{stored.name!r}, not {schema.name!r}"
                    )
                self.schema = stored
                cfg = dict(meta.get("config") or {})
                cfg["path"] = path
                self._config.update(cfg)
                self.n_buckets = int(meta.get("n_buckets", self.n_buckets))
            else:
                self._store_space_meta()
            man = self._load_manifest()
            if man is not None:
                self._manifest = man
                self.n_buckets = int(man["n_buckets"])
                self._max_seq = int(man["max_seq"])
                self._refresh_df()
                self._load_persisted_indexes()

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "Space":
        """Reattach to a PERSISTED space by path alone — schema, config
        and bucket count come from the stored ``_SPACE.json`` (the
        master's load-from-etcd shape, space_service.go): a new session
        needs no create-time schema in hand to resume searching."""
        meta_path = os.path.join(path, "_SPACE.json")
        if not os.path.exists(meta_path):
            raise SchemaError(f"no persisted space at {path!r}")
        meta = read_json(meta_path)
        schema = SpaceSchema.from_json(meta["schema"])
        return cls(
            spark,
            schema,
            path=path,
            n_buckets=int(meta.get("n_buckets", 16)),
            refresh_interval=int(
                (meta.get("config") or {}).get("refresh_interval", 1000)
            ),
        )

    # ----------------------------------------------------------- space meta
    #
    # _SPACE.json: the durable schema/config record (the reference
    # master persists SpaceProperties in etcd; internal/entity/space.go).
    # Written at create and after every schema/config mutation, atomic
    # tmp+rename like the manifest.

    def _space_meta_path(self) -> str:
        return os.path.join(self.path, "_SPACE.json")

    def _load_space_meta(self) -> dict | None:
        p = self._space_meta_path()
        return read_json(p) if os.path.exists(p) else None

    def _store_space_meta(self) -> None:
        if not self.path:
            return
        meta = {
            "schema": self.schema.to_json(),
            "config": {k: v for k, v in self._config.items() if k != "path"},
            "n_buckets": int(self.n_buckets),
        }
        write_json(self._space_meta_path(), meta)

    # ------------------------------------------------------------------ io
    #
    # Bucketed versioned parquet: each commit writes ONLY the buckets it
    # touched into a fresh ``v{n}`` directory; ``_CURRENT`` is a JSON
    # manifest {version, n_buckets, max_seq, buckets: {bucket: version}}
    # swapped atomically (tmp + rename). Untouched buckets keep serving
    # from their old version directories — the Delta/Iceberg manifest
    # pattern without the dependency.

    def _version_dir(self, n: int) -> str:
        return os.path.join(self.path, f"v{n}")

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return os.path.join(self._version_dir(version), f"b{bucket}")

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def _load_manifest(self) -> dict | None:
        ptr = self._manifest_path()
        if not os.path.exists(ptr):
            return None
        man = read_json(ptr)
        if "buckets" not in man:
            # e.g. a pre-bucketed-layout _CURRENT (plain version integer)
            raise SchemaError(
                f"unsupported space layout at {self.path!r}: _CURRENT is "
                "not a bucketed manifest — recreate the space or restore "
                "from a backup"
            )
        return man

    def _store_manifest(self, man: dict, staging_dir: str | None = None) -> None:
        # Optimistic CAS under an advisory commit lock: two writers
        # that both read version N would otherwise both publish N+1 and
        # the first commit's bucket updates silently vanish (the
        # reference serializes partition writes through raft,
        # internal/ps/storage/raftstore/). The lock bounds the check-
        # then-rename window; the version check rejects the loser with
        # a typed error instead of losing its commit. flock is
        # advisory and POSIX-local — on object stores, swap for a
        # conditional-put (S3 If-None-Match / GCS generation match).
        # ``staging_dir``: a commit-private data directory _commit
        # staged; it becomes v{version} here, after the CAS — so a
        # losing writer can never clobber the winner's version dir.
        lock_path = os.path.join(self.path, "_COMMIT.lock")
        with open(lock_path, "w") as lock_fh:
            try:
                import fcntl

                fcntl.flock(lock_fh, fcntl.LOCK_EX)
            except ImportError:  # non-POSIX: CAS check still applies
                pass
            on_disk = self._load_manifest()
            disk_v = int(on_disk["version"]) if on_disk else 0
            if disk_v != int(man["version"]) - 1:
                raise ConcurrentWriteError(
                    f"manifest commit conflict: expected on-disk version "
                    f"{int(man['version']) - 1}, found {disk_v} — another "
                    "writer committed first; reload the space and retry"
                )
            if staging_dir is not None:
                target = self._version_dir(int(man["version"]))
                if os.path.exists(target):
                    # orphan of a commit that crashed between the dir
                    # rename and the manifest swap — provably
                    # unreferenced (every live bucket version ≤ disk_v
                    # < this version)
                    import shutil

                    shutil.rmtree(target)
                os.replace(staging_dir, target)
            write_json(self._manifest_path(), man)  # atomic commit point
        self._manifest = man
        # archive the committed manifest AFTER the commit point, with
        # the same tmp+rename atomicity: a crash in the commit window
        # can lose the newest archive (as_of falls back to _CURRENT for
        # the live version) but can never advertise an uncommitted or
        # truncated snapshot
        hist = os.path.join(self.path, "manifests")
        os.makedirs(hist, exist_ok=True)
        write_json(os.path.join(hist, f"{int(man['version'])}.json"), man)

    def _bucket_expr(self) -> Column:
        # deterministic _id routing — the murmur3-slot analog
        # (client.go:245); xxhash64 is Spark's native 64-bit hash
        return F.pmod(F.xxhash64(F.col(ID_FIELD)), F.lit(self.n_buckets)).cast("int")

    def _df_for_manifest(
        self, man: dict | None, check_missing: bool = False
    ) -> DataFrame | None:
        """Multi-root read view for a bucket→version map: one scan when
        the layout is flat; per-bucket reads unioned when a range rule
        nests a discovered ``_partition_name`` level under each bucket
        (Spark requires a single inferred base per partitioned scan, so
        cross-version roots must be separate relations).

        Every read passes the space's kept data schema to the reader
        (:meth:`_read_schema`), so no read after the first pays Spark's
        footer-inference job.

        ``check_missing``: stat each root first — the as_of path, where
        vacuum() may have reclaimed a snapshot's files. The hot
        read-refresh path skips it (the CURRENT manifest's roots are in
        vacuum's live set by construction)."""
        if not man or not man["buckets"]:
            return None
        roots = [
            self._bucket_dir(int(b), int(v)) for b, v in sorted(man["buckets"].items())
        ]
        if check_missing:
            missing = [r for r in roots if not os.path.exists(r)]
            if missing:
                raise DocumentError(
                    f"snapshot unreadable: {len(missing)} bucket dir(s) were "
                    f"reclaimed by vacuum() (first: {missing[0]!r})"
                )
        reader = self.spark.read.schema(self._read_schema(roots[0]))
        if self.schema.partition_rule is None:
            return reader.parquet(*roots)
        from functools import reduce

        return reduce(
            lambda a, b: a.unionByName(b), [reader.parquet(p) for p in roots]
        )

    def _read_schema(self, root: str):
        """The bucket files' data schema: inferred once from ``root``
        and kept for every later read of this space (all commits write
        the same columns). A range rule's discovered ``_partition_name``
        level is kept as a string, whatever the range names look like.
        Reset by :meth:`update_partition_rule`."""
        if self._data_schema is None:
            from pyspark.sql import types as T

            inferred = self.spark.read.parquet(root).schema
            self._data_schema = T.StructType(
                [
                    T.StructField(f.name, T.StringType(), f.nullable)
                    if f.name == PARTITION_FIELD
                    else f
                    for f in inferred.fields
                ]
            )
        return self._data_schema

    def _refresh_df(self) -> None:
        self._df = self._df_for_manifest(self._manifest)
        self._df_man_version = (
            int(self._manifest["version"]) if self._manifest else None
        )

    def _commit(self, df: DataFrame, touched: Sequence[int] | None = None) -> None:
        """Commit ``df`` as the new content of ``touched`` buckets (or of
        the whole table when ``touched`` is None). In-memory mode always
        receives the full table and checkpoints it."""
        if not self.path:
            self._df = df.localCheckpoint(eager=True)  # cut lineage growth
            return
        if touched is not None and len(touched) == 0:
            return  # no bucket holds an affected row — nothing to rewrite
        man = self._manifest or {
            "version": 0,
            "n_buckets": self.n_buckets,
            "max_seq": 0,
            "buckets": {},
        }
        nxt = int(man["version"]) + 1
        # Stage the data write in a commit-private directory: writing
        # v{n} directly would let a concurrent writer that also read
        # version n-1 OVERWRITE a just-committed v{n} before the
        # manifest CAS rejects it — data and manifest must win or lose
        # the race together. The staging dir renames to v{n} inside
        # _store_manifest's commit lock, after the CAS check.
        import uuid

        vdir = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        data = df.withColumn(_BUCKET_COL, self._bucket_expr())
        pb = [_BUCKET_COL] + (
            [PARTITION_FIELD] if self.schema.partition_rule is not None else []
        )
        data.write.mode("overwrite").partitionBy(*pb).parquet(vdir)
        # rename `_bp=k` → `bk`: a non-key=value dir name keeps Spark's
        # partition discovery from walking above the bucket root when
        # buckets of different versions are read together
        written: set[int] = set()
        for name in os.listdir(vdir):
            if name.startswith(f"{_BUCKET_COL}="):
                b = int(name.split("=", 1)[1])
                os.replace(os.path.join(vdir, name), os.path.join(vdir, f"b{b}"))
                written.add(b)
        buckets = dict(man["buckets"])
        for b in written if touched is None else set(touched):
            if b in written:
                buckets[str(b)] = nxt
            else:
                buckets.pop(str(b), None)  # bucket emptied by this commit
        if touched is None:
            # full rewrite: drop buckets that no longer exist
            buckets = {str(b): nxt for b in written}
        try:
            self._store_manifest(
                {
                    "version": nxt,
                    "n_buckets": self.n_buckets,
                    "max_seq": self._max_seq,
                    "buckets": buckets,
                },
                staging_dir=vdir,
            )
        except ConcurrentWriteError:
            import shutil

            shutil.rmtree(vdir, ignore_errors=True)  # loser leaves no orphan
            raise
        self._refresh_df()

    def _read_buckets(self, buckets: Sequence[int]) -> DataFrame:
        """Current content of the named buckets only — the bounded read
        side of a bucket-scoped rewrite. Delegates to the one multi-root
        reader with the submap of requested buckets."""
        man = self._manifest or {"buckets": {}}
        sub = {
            str(b): man["buckets"][str(b)]
            for b in buckets
            if str(b) in man["buckets"]
        }
        df = self._df_for_manifest({"buckets": sub} if sub else None)
        if df is None:
            return self.spark.createDataFrame([], self.schema.to_struct_type())
        return df

    def _buckets_of_ids(self, ids: Sequence[str]) -> list[int]:
        """Buckets the given ids hash into, sorted and distinct: the
        write side's :meth:`_bucket_expr`, ``pmod(xxhash64(_id), n)``,
        computed in Python (:func:`_xxhash64` reproduces Spark's hash of
        a string bit for bit), so routing makes no JVM call. A test
        pins the two forms together over arbitrary text ids."""
        n = self.n_buckets
        return sorted({_signed64(_xxhash64(str(i).encode("utf-8"))) % n for i in ids})

    def _bucketed(self) -> bool:
        return self.path is not None

    def vacuum(self) -> int:
        """Delete version directories no CURRENT manifest entry
        references (safe after any commit; returns the number removed).
        Reclaims time-travel history: archived manifests whose files
        are gone are pruned too, so :meth:`snapshots` only ever
        advertises readable versions. A snapshot DataFrame obtained
        from :meth:`as_of` BEFORE a vacuum reads lazily and will fail
        at job time if its files are reclaimed underneath it — re-call
        as_of after vacuum for the clear-error path (the same contract
        lakehouse vacuums give old readers).

        Also the index merge point (the reference's forcemerge,
        engine.cc:1013-1084): before any version is deleted, every
        index whose base is still ``fit``'s cached relation folds, so
        no index relation reads a deleted file. A space with no path
        has nothing to delete; its indexes fold what is pending."""
        if not self.path or self._manifest is None:
            for model in self._indexes.values():
                if model.pending:
                    model.fold()
            return 0
        # staging orphans: a writer that crashed before its manifest CAS
        # leaves a commit-private _staging_* dir behind (a losing writer
        # cleans its own up), and an index dump that crashed before its
        # rename leaves an ``indexes/.<field>.<uuid>`` dir. Only dirs
        # older than the grace window are reclaimed — a LIVE concurrent
        # commit's staging dir is young (it stages, then immediately
        # takes the commit lock), and deleting it mid-flight would fail
        # that writer with a raw FileNotFoundError instead of the CAS's
        # typed retry signal.
        import shutil as _sh
        import time as _time

        grace = 3600.0  # crashed-commit orphans are hours old, not seconds
        now = _time.time()

        def _newest_mtime(root: str) -> float:
            # the grace window keys off the NEWEST mtime anywhere under
            # the staging tree, not the top directory's: Spark stamps
            # the top dir when it creates the partition subdirs at the
            # START of the write, so a live parquet write that runs
            # longer than the grace would otherwise be reclaimed
            # mid-commit (crashing the writer with FileNotFoundError
            # instead of the CAS's typed retry)
            newest = os.path.getmtime(root)
            for r, _dirs, files in os.walk(root):
                try:
                    newest = max(newest, os.path.getmtime(r))
                    for f in files:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(r, f))
                        )
                except OSError:
                    pass  # a file vanished mid-walk: the tree is live
            return newest

        orphans = [
            os.path.join(self.path, name)
            for name in os.listdir(self.path)
            if name.startswith("_staging_")
        ]
        idx_root = os.path.join(self.path, "indexes")
        if os.path.isdir(idx_root):
            orphans += [
                os.path.join(idx_root, name)
                for name in os.listdir(idx_root)
                if name.startswith(".") and os.path.isdir(os.path.join(idx_root, name))
            ]
        for p in orphans:
            try:
                if now - _newest_mtime(p) > grace:
                    _sh.rmtree(p, ignore_errors=True)
            except OSError:
                pass  # raced with the owner's own cleanup
        live = {int(v) for v in self._manifest["buckets"].values()}
        live.add(int(self._manifest["version"]))
        doomed = [
            name
            for name in os.listdir(self.path)
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) not in live
        ]
        if not doomed:
            return 0
        # a fitted base may still read the files about to be deleted
        # (a persisted relation recomputes from its scan on block loss);
        # a fold leaves a base whose lineage ends in its checkpoint
        for model in self._indexes.values():
            if not model.rooted:
                model.fold()
        removed = 0
        import shutil

        for name in doomed:
            shutil.rmtree(os.path.join(self.path, name))
            removed += 1
        # prune archives whose snapshots are no longer readable
        hist = os.path.join(self.path, "manifests")
        if removed and os.path.isdir(hist):
            for name in os.listdir(hist):
                if not name.endswith(".json"):
                    continue
                man = read_json(os.path.join(hist, name))
                roots = [
                    self._bucket_dir(int(b), int(v))
                    for b, v in man["buckets"].items()
                ]
                if any(not os.path.exists(r) for r in roots):
                    os.remove(os.path.join(hist, name))
        return removed

    def update_partition_num(self, n: int) -> int:
        """``PUT /dbs/{db}/spaces/{space}`` partition-count update
        (test_module_space.py::test_update_space_partition): grow-only —
        the reference rejects reducing partition_num. The reference adds
        empty partitions and re-routes only new docs; a hash-bucketed
        table must stay consistent with its routing expression
        (:meth:`_bucket_expr`), so growing re-buckets the table in ONE
        explicit admin commit — the deliberate re-shard an operator
        schedules, never an implicit write-path cost. Trained indexes
        are untouched (ids and rows are unchanged; only their bucket
        homes move)."""
        n = int(n)
        if n <= self.n_buckets:
            raise DocumentError(
                f"partition_num can only grow: {n} <= current {self.n_buckets}"
            )
        old = self.n_buckets
        self.n_buckets = n  # _commit's bucket expr must see the new count
        try:
            if self._bucketed() and self._df is not None:
                self._commit(self.df, touched=None)  # full re-bucket
            elif self._bucketed() and self._manifest is not None:
                # empty-but-committed space: persist the new count so a
                # reload doesn't silently resurrect the old routing
                self._store_manifest(
                    {**self._manifest,
                     "version": int(self._manifest["version"]) + 1,
                     "n_buckets": n}
                )
        except BaseException:
            # a failed commit must not leave the in-memory routing expr
            # pointing at a layout the manifest doesn't have — routing
            # and layout change together or not at all
            self.n_buckets = old
            raise
        self._store_space_meta()
        return n

    def update_partition_rule(
        self,
        operator_type: str,
        partition_name: str | None = None,
        ranges: Sequence[tuple[str, str]] | None = None,
    ) -> dict:
        """``PUT /dbs/{db}/spaces/{space}`` with ``operator_type``
        ADD | DROP (space_service.go:1053-1150; entity.Add/Drop
        partition.go:116-117; exercised by test_module_partition.py's
        test_add_partitions / test_drop_partitions):

        - DROP: ``partition_name`` required and must exist
          (space_service.go:1056-1068); the range leaves the rule and
          its documents are deleted (the reference deletes the
          partition's replicas — get_space_num()==0 after dropping the
          only populated range). Bucketed layout nests
          ``_partition_name=`` under each bucket, so the delete
          rewrites only buckets holding affected rows; a pure
          directory-drop commit is the available optimization if the
          rewrite ever shows up at scale.
        - ADD: new ranges must collide with no existing range name OR
          bound value (RangeIsSame partition.go:256-280); the merged
          rule is kept bound-ordered (routing is by value, so order is
          representation, not semantics — our declared-order router
          requires ascending bounds).

        Trained indexes are untouched by ADD; DROP tombstones the
        deleted ids through the normal write-sync path.
        """
        from dataclasses import replace as _dc_replace
        from datetime import datetime

        rule = self.schema.partition_rule
        if rule is None:
            raise DocumentError("space has no partition rule")
        if operator_type not in ("ADD", "DROP"):
            # mirrors space_service.go:570-573
            raise DocumentError(
                f"partition operator type should be ADD or DROP, "
                f"got {operator_type!r}"
            )
        if operator_type == "DROP":
            if not partition_name:
                raise DocumentError("partition name is empty")
            if partition_name not in rule.names():
                raise DocumentError(
                    f"partition name {partition_name} not exist"
                )
            remaining = [r for r in rule.ranges if r[0] != partition_name]
            if not remaining:
                raise DocumentError(
                    "cannot drop the last partition range of the rule"
                )
            if self._df is not None:
                pred = F.col(PARTITION_FIELD) == partition_name
                matched = (
                    self.df.where(pred)
                    .select(ID_FIELD)
                    .localCheckpoint(eager=True)
                )
                self._delete_matches(pred, matched)
            new_rule = PartitionRule(field=rule.field, ranges=remaining)
        else:  # ADD
            if not ranges:
                raise DocumentError("partition rule is empty")
            for n, v in ranges:
                # a {"value": ...} entry without a name would otherwise
                # coerce to the literal range name "None"
                if n is None or str(n) == "" or v is None:
                    raise DocumentError(
                        f"partition range needs both name and value, "
                        f"got name={n!r} value={v!r}"
                    )
            pairs = [(str(n), str(v)) for n, v in ranges]
            names = set(rule.names())
            values = {v for _, v in rule.ranges}
            for n, v in pairs:
                if n in names:
                    raise DocumentError(
                        f"partition rule range name {n} has same one"
                    )
                if v in values:
                    raise DocumentError(
                        f"partition rule range value {v} has same one"
                    )
                names.add(n)
                values.add(v)

            def _bound(r: tuple[str, str]):
                try:
                    return datetime.fromisoformat(
                        str(r[1]).replace("Z", "+00:00")
                    )
                except ValueError:
                    raise DocumentError(
                        f"partition range {r[0]!r} has unparseable "
                        f"bound {r[1]!r}"
                    ) from None

            try:
                merged = sorted(rule.ranges + pairs, key=_bound)
            except TypeError:
                raise DocumentError(
                    "partition range bounds mix timezone-aware and "
                    "naive timestamps"
                ) from None
            new_rule = PartitionRule(field=rule.field, ranges=merged)
        self.schema = _dc_replace(self.schema, partition_rule=new_rule)
        self._data_schema = None
        self._store_space_meta()
        return {
            "partition_rule": {
                "type": "RANGE",
                "field": new_rule.field,
                "ranges": [{"name": n, "value": v} for n, v in new_rule.ranges],
            }
        }

    # ------------------------------------------------------------ config
    # "path" is reported (SpaceConfig carries it) but NOT updatable —
    # mutating it would advertise a storage location the space does not
    # actually use; the reference's UpdateSpaceConfig merge is likewise
    # only ever fed it by the system, not the user.

    _CONFIG_KEYS = {
        "engine_cache_size": int,
        "slow_search_time": int,
        "refresh_interval": int,
        "enable_id_cache": bool,
    }

    def get_config(self) -> dict:
        """``GET /config/{db}/{space}`` (config_service.go:82-95):
        the current space config; unset keys are omitted (the
        reference marshals with ``omitempty``)."""
        return {
            "name": self.schema.name,
            **{k: v for k, v in self._config.items() if v is not None},
        }

    def update_config(self, cfg: dict) -> dict:
        """``POST /config/{db}/{space}``: partial merge — ONLY the
        provided keys overwrite, everything else is kept
        (UpdateSpaceConfig config_service.go:97-133); unknown keys are
        ignored like the reference's JSON unmarshal. Returns the merged
        config (the route echoes it as ``data``)."""
        updates = {}
        # validate EVERYTHING before mutating: a request mixing valid
        # and invalid keys must fail atomically, never half-apply
        for key, typ in self._CONFIG_KEYS.items():
            if key not in cfg or cfg[key] is None:
                continue
            value = cfg[key]
            if typ is bool:
                if not isinstance(value, bool):
                    raise DocumentError(f"config {key!r} must be a bool")
            elif typ is int:
                if isinstance(value, bool) or not isinstance(value, int):
                    raise DocumentError(f"config {key!r} must be an int")
            updates[key] = value
        self._config.update(updates)
        if updates:
            self._store_space_meta()  # config survives restarts (etcd parity)
        return self.get_config()

    @property
    def refresh_interval(self) -> int:
        """Streaming-trigger cadence in ms; ≤ 0 = no background index
        refresh (the reference's -1, test_module_config.py — searches
        then serve via brute force until an explicit build_index)."""
        return int(self._config["refresh_interval"])

    @property
    def df(self) -> DataFrame:
        # Self-heal a live handle whose writer was interrupted between
        # the durable manifest swap and the in-memory refresh (e.g. a
        # streaming foreachBatch torn down by stop() mid-commit): the
        # manifest is already at version N but _df still reflects N-1.
        man = self._manifest
        if man is not None and self._df_man_version != int(man["version"]):
            self._refresh_df()
        if self._df is None:
            return self.spark.createDataFrame([], self.schema.to_struct_type())
        return self._df

    def snapshots(self) -> list[int]:
        """Committed versions with an archived manifest — the available
        time-travel points. :meth:`vacuum` reclaims older snapshots'
        files AND prunes their archives, so this lists only versions
        as_of can actually serve."""
        if not self.path:
            return []
        hist = os.path.join(self.path, "manifests")
        if not os.path.isdir(hist):
            return []
        return sorted(
            int(n[:-5]) for n in os.listdir(hist) if n.endswith(".json")
        )

    def as_of(self, version: int) -> DataFrame:
        """Snapshot read: the table exactly as committed at ``version``
        (training-data reproducibility — 'the corpus the run was
        trained on'). Untouched buckets share files with the current
        version, so a snapshot costs no extra storage beyond the
        superseded buckets vacuum() would reclaim. Raises if the
        snapshot's manifest is unknown or its files were vacuumed."""
        if not self.path:
            raise DocumentError("time travel requires a path-backed space")
        mp = os.path.join(self.path, "manifests", f"{int(version)}.json")
        if os.path.exists(mp):
            man = read_json(mp)
        elif self._manifest and int(version) == int(self._manifest["version"]):
            # a crash between the commit point and the archive write can
            # lose the newest archive — the live manifest IS that snapshot
            man = self._manifest
        else:
            raise DocumentError(
                f"unknown snapshot version {version}; available: {self.snapshots()}"
            )
        df = self._df_for_manifest(man, check_missing=True)
        if df is None:
            return self.spark.createDataFrame([], self.schema.to_struct_type())
        return df

    def count(self) -> int:
        return self.df.count()

    # --------------------------------------------------------------- write

    def _prepare_batch(
        self, rows: DataFrame | list[dict]
    ) -> tuple[DataFrame, list[str] | None]:
        """The validated, normalized, id-deduplicated batch, plus its
        ``_id`` values when they are known driver-side (a list batch;
        None for a DataFrame)."""
        ids = None
        if isinstance(rows, list):
            rows = [dict(r) for r in rows]
            known = {f.name for f in self.schema.fields}
            dims = {
                f.name: _expected_vector_len(f)
                for f in self.schema.vector_fields
                if f.dimension
            }
            for r in rows:
                # auto-generate _id when absent (doc_parse.go:56-128);
                # numeric ids coerce to string like the DataFrame path
                r.setdefault(ID_FIELD, uuid.uuid4().hex)
                r[ID_FIELD] = str(r[ID_FIELD])
                unknown = set(r) - known - {ID_FIELD}
                if unknown:
                    # MapDocument rejects unknown fields (doc_parse.go:56)
                    raise DocumentError(f"unknown fields: {sorted(unknown)}")
                for name, dim in dims.items():
                    val = r.get(name)
                    if val is None:
                        continue
                    if not isinstance(val, (list, tuple)):
                        raise DocumentError(
                            f"vector {name!r} must be a list of floats"
                        )
                    if len(val) != dim:
                        # CheckDoc dimension validation (engine.cc:787-829)
                        raise DocumentError(
                            f"vector {name!r} dimension {len(val)} != {dim}"
                        )
                    # createDataFrame's FloatType is strict about python
                    # ints — coerce like the JSON parser would (byte
                    # codes for Hamming fields arrive as ints)
                    r[name] = [float(x) for x in val]
                # string length caps (doc_parse.go:45-46, 220-235):
                # indexed string fields ≤ 1024 bytes, any string field
                # ≤ 65535 bytes; string-array elements check
                # individually, like the parser's per-element loop
                for f in self.schema.fields:
                    if f.type not in (FieldType.STRING, FieldType.STRING_ARRAY):
                        continue
                    val = r.get(f.name)
                    if val is None:
                        continue
                    cap = 1024 if f.index is not None else 65535
                    elems = val if isinstance(val, (list, tuple)) else [val]
                    for s in elems:
                        if isinstance(s, str) and len(s.encode("utf-8")) > cap:
                            raise DocumentError(
                                f"string field {f.name} "
                                f"{'indexed, ' if f.index is not None else ''}"
                                f"length should less than {cap}"
                            )
            from pyspark.sql import types as T

            struct = T.StructType(
                [T.StructField(ID_FIELD, T.StringType(), nullable=False)]
                + [T.StructField(f.name, f.spark_type, nullable=True) for f in self.schema.fields]
            )
            batch = self.spark.createDataFrame(
                [
                    tuple([r.get(ID_FIELD)] + [r.get(f.name) for f in self.schema.fields])
                    for r in rows
                ],
                struct,
            )
            ids = [r[ID_FIELD] for r in rows]
        else:
            batch = rows
            if ID_FIELD not in batch.columns:
                raise DocumentError("upsert DataFrame requires an _id column")
            unknown = set(batch.columns) - {ID_FIELD, SEQ_FIELD} - {
                f.name for f in self.schema.fields
            }
            if unknown:
                # Engine::CheckDoc engine.cc:787-829 — unknown fields rejected
                raise DocumentError(f"unknown fields in batch: {sorted(unknown)}")
            for f in self.schema.fields:
                if f.name not in batch.columns:
                    batch = batch.withColumn(f.name, F.lit(None).cast(f.spark_type))
            batch = batch.select(
                F.col(ID_FIELD).cast("string"), *[F.col(f.name).cast(f.spark_type.simpleString()) for f in self.schema.fields]
            )
        # vector normalization at ingest (doc_parse.go:487-515) — the
        # bulk Arrow path; query-time literals keep the exact fold form
        for f in self.schema.vector_fields:
            if f.normalize:
                batch = batch.withColumn(
                    f.name, l2_normalize_fast(F.col(f.name)).cast("array<float>")
                )
        # range-rule routing (space.go:255-285): derive the partition
        # name; a value outside every range is rejected at ingest
        rule = self.schema.partition_rule
        if rule is not None:
            val = F.col(rule.field)
            expr = F.lit(None).cast("string")
            for name, bound in reversed(rule.ranges):
                expr = F.when(val < F.to_timestamp(F.lit(bound)), F.lit(name)).otherwise(expr)
            batch = batch.withColumn(PARTITION_FIELD, expr)
            bad = batch.where(F.col(PARTITION_FIELD).isNull()).limit(1).collect()
            if bad:
                raise DocumentError(
                    f"document {bad[0][ID_FIELD]!r} falls outside every "
                    f"partition range of {rule.field!r}"
                )
        # duplicate _id inside one batch: last occurrence wins
        w = Window.partitionBy(ID_FIELD).orderBy(F.monotonically_increasing_id().desc())
        batch = (
            batch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        return batch, ids

    def _advance_max_seq(self, n: int) -> None:
        """Advance the seq high-water mark past every value the rank
        assignment could have produced, without a table scan: the dense
        path assigns ranks 1..n; the strided path caps at
        ``(nparts << 32) + n``. ``_seq`` needs monotonicity and
        stability only, so the gap is free (and bounded: ~2^37 per
        bulk upsert leaves room for ~2^26 of them in a long)."""
        if n <= _RANK_WINDOW_MAX:
            self._max_seq += n
        else:
            nparts = max(
                1, int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
            )
            self._max_seq += (nparts << _SEQ_STRIDE_BITS) + n

    def set_resource_limit(self, exhausted: bool) -> None:
        """The master's cluster resource limit applied to this space:
        while exhausted, document WRITES reject with a typed error and
        reads keep serving (`PUT /cluster/resource_limit`, exercised by
        test_module_resource_limit.py — upserts return total=0 until
        the limit clears). Clearing re-enables writes."""
        self._resource_exhausted = bool(exhausted)

    def _check_writable(self) -> None:
        if self._resource_exhausted:
            raise DocumentError(
                "resource exhausted: document writes are rejected until "
                "the cluster resource limit clears "
                "(api.server_resource_limit)"
            )
        if self._memory_gate is not None:
            # registry-wired memory_limit gate: raises DocumentError
            # while executor storage-memory pressure exceeds the
            # configured percent (reads never pass through here)
            self._memory_gate()

    def upsert(self, rows: DataFrame | list[dict]) -> int:
        """Insert-or-replace by ``_id``; existing keys keep their
        ``_seq`` (docid stable on update, engine.cc:747). Returns the
        batch size (the reference returns per-doc statuses).

        Bucketed path: only the buckets the batch hashes into are read
        and rewritten — write cost is O(touched buckets), not O(table)
        (Engine::AddOrUpdate engine.cc:697-785 likewise touches only
        the routed shard)."""
        # the prepared batch is consumed by several actions (the commit
        # write, the per-index sync and, for a DataFrame batch, the
        # bucket stats) — materialize its lineage ONCE instead of
        # re-running the source scan + normalize + dedup window per
        # action (an external-source batch would otherwise be rescanned
        # each time)
        self._clear_scheduler_pool()
        self._check_writable()
        batch, ids = self._prepare_batch(rows)
        batch = batch.persist()
        try:
            return self._upsert_prepared(batch, ids)
        finally:
            batch.unpersist()

    def _upsert_prepared(self, batch: DataFrame, ids: list[str] | None) -> int:
        bulk_load = self._df is None and self._manifest is None
        if ids is not None:
            # a list batch's ids are driver-side already: its size is the
            # distinct-id count (the dedup window keeps one row per id)
            # and its buckets come from the same job-free routing gets
            # use (a bulk load writes every bucket it has rows for)
            distinct = list(set(ids))
            n = len(distinct)
            touched = (
                self._buckets_of_ids(distinct)
                if self._bucketed() and not bulk_load
                else None
            )
        elif self._bucketed():
            # one aggregation action yields BOTH the batch size and the
            # touched-bucket set (map-side combine over ≤ n_buckets
            # groups) — not a count plus a distinct-collect
            stats = batch.groupBy(self._bucket_expr().alias("b")).count().collect()
            touched = [r["b"] for r in stats]
            n = sum(r["count"] for r in stats)
        else:
            touched, n = None, batch.count()
        if bulk_load:
            # bulk load into an empty space: no existing keys to merge
            # against — assign seqs directly and write (the initial-load
            # fast path a MERGE engine also takes)
            seeded = _with_id_rank(batch, SEQ_FIELD, n)
            self._advance_max_seq(n)
            self._commit(seeded)
            return n
        if self._bucketed():
            existing = self._read_buckets(touched)
        else:
            existing = self.df
        # new rows get fresh seq numbers in deterministic _id order
        keyed = batch.join(
            existing.select(ID_FIELD, F.col(SEQ_FIELD).alias("_old_seq")),
            on=ID_FIELD,
            how="left",
        )
        keyed = _with_id_rank(keyed, "_id_rank", n)
        keyed = keyed.withColumn(
            SEQ_FIELD,
            F.coalesce(
                F.col("_old_seq"),
                F.lit(self._max_seq) + F.col("_id_rank"),
            ),
        ).drop("_old_seq", "_id_rank")
        cols = existing.columns or self.df.columns
        keyed = keyed.select(*cols) if cols else keyed
        survivors = existing.join(batch.select(ID_FIELD), on=ID_FIELD, how="left_anti")
        self._advance_max_seq(n)
        self._commit(survivors.unionByName(keyed), touched)
        self._sync_indexes_on_write(
            upserted_ids=distinct if ids is not None else batch.select(ID_FIELD),
            touched=touched,
        )
        return n

    def _sync_indexes_on_write(
        self,
        upserted_ids: Sequence[str] | DataFrame | None = None,
        deleted_ids: Sequence[str] | DataFrame | None = None,
        touched: Sequence[int] | None = None,
    ) -> None:
        """Keep trained ANN indexes consistent with writes — the engine
        does the same on every write path (Engine::AddOrUpdate feeds the
        realtime index, Engine::Delete sets the bitmap; searches never
        see stale docs). Incremental: updated ids are tombstoned and the
        committed latest versions re-assigned/encoded with the trained
        quantizers — no retrain (that stays RebuildIndex/build_index).

        An id list in Python joins each index's delta and tombstones,
        its rows read from the committed ``touched`` buckets (the whole
        table when None) by a pushed filter; a DataFrame of ids stays
        distributed (joins) and folds each index at once."""
        if not self._indexes:
            return
        fresh = None
        if isinstance(upserted_ids, DataFrame):
            fresh = self.df.join(
                upserted_ids.select(F.col(upserted_ids.columns[0]).alias(ID_FIELD)),
                on=ID_FIELD,
                how="left_semi",
            )
        elif upserted_ids is not None:
            rows = self.df if touched is None else self._read_buckets(touched)
            fresh = rows.where(isin_sql(ID_FIELD, list(upserted_ids)))
        for model in self._indexes.values():
            if deleted_ids is not None:
                model.remove(deleted_ids)  # type: ignore[attr-defined]
            if fresh is not None:
                model.replace(upserted_ids, fresh)  # type: ignore[attr-defined]

    def partial_update(self, _id: str, fields: dict) -> None:
        """Update only the named fields of one doc (Engine::Update
        engine.cc:831-867); vector fields are replaced whole."""
        self._clear_scheduler_pool()
        self._check_writable()
        unknown = set(fields) - {f.name for f in self.schema.fields}
        if unknown:
            raise DocumentError(f"unknown fields: {sorted(unknown)}")
        rule = self.schema.partition_rule
        if rule is not None and rule.field in fields:
            # a doc cannot move between range partitions in place (the
            # reference routes by this field at ingest, space.go:255-285)
            raise DocumentError(
                f"cannot partial-update partition routing field {rule.field!r}"
            )
        if self._bucketed():
            touched = self._buckets_of_ids([_id])
            updated = self._read_buckets(touched)
        else:
            touched, updated = None, self.df
        cond = F.col(ID_FIELD) == _id
        if updated.where(cond).limit(1).count() == 0:
            # the reference returns doc-not-found (Engine::Update) —
            # silently "succeeding" would also rewrite a bucket for
            # nothing on the durable path
            raise DocumentError(f"document {_id!r} not found")
        for name, value in fields.items():
            spec = self.schema.field(name)
            if spec.type is FieldType.VECTOR and value is not None:
                if not isinstance(value, (list, tuple)):
                    raise DocumentError(f"vector {name!r} must be a list of floats")
                expected = _expected_vector_len(spec)
                if expected and len(value) != expected:
                    # CheckDoc dimension validation (engine.cc:787-829)
                    raise DocumentError(
                        f"vector {name!r} dimension {len(value)} != {expected}"
                    )
            elif value is not None:
                # python-side type validation: a lazy .cast() would
                # silently NULL an unconvertible value into the stored
                # doc (non-ANSI) — the same value via upsert raises
                _check_scalar_value(spec, value)
            lit = F.lit(value).cast(spec.spark_type.simpleString())
            if spec.type is FieldType.VECTOR and spec.normalize:
                lit = l2_normalize(lit).cast("array<float>")
            updated = updated.withColumn(name, F.when(cond, lit).otherwise(F.col(name)))
        self._commit(updated, touched)
        self._sync_indexes_on_write(upserted_ids=[_id], touched=touched)

    def delete(self, ids: Sequence[str]) -> int:
        """Delete by ids (Engine::Delete engine.cc:869-900); returns the
        number actually deleted. Bucketed path: reads/rewrites only the
        buckets the ids hash into."""
        return len(self._delete_ids(ids))

    def _delete_ids(self, ids: Sequence[str]) -> list[str]:
        """:meth:`delete`, returning the ids that existed and were
        deleted (each once), collected from the same bucket read the
        commit rewrites. Nothing matched: no commit."""
        self._clear_scheduler_pool()
        self._check_writable()
        ids = [str(i) for i in ids]
        if self._bucketed():
            touched = self._buckets_of_ids(ids)
            existing = self._read_buckets(touched)
        else:
            touched, existing = None, self.df
        hit = isin_sql(ID_FIELD, ids)
        matched = [r[ID_FIELD] for r in existing.where(hit).select(ID_FIELD).collect()]
        if matched:
            self._commit(existing.where(f"NOT ({hit})"), touched)
            self._sync_indexes_on_write(deleted_ids=matched)
        return matched

    def _delete_matches(
        self, pred: Column, matched_ids: DataFrame | Sequence[str]
    ) -> None:
        """Shared commit path of both delete-by-query forms: rewrite
        only buckets containing matches, tombstone the ids in trained
        indexes. ``matched_ids`` may be a DataFrame (stays distributed)
        or a bounded list."""
        if self._bucketed():
            if isinstance(matched_ids, DataFrame):
                buckets = matched_ids.select(self._bucket_expr().alias("b")).distinct()
                touched = [r["b"] for r in buckets.collect()]
            else:
                touched = self._buckets_of_ids(matched_ids)
            existing = self._read_buckets(touched)
        else:
            touched, existing = None, self.df
        self._commit(existing.where(~F.coalesce(pred, F.lit(False))), touched)
        self._sync_indexes_on_write(deleted_ids=matched_ids)

    def delete_by_query(
        self, flt: dict | Column, max_ids: int = DELETE_BY_QUERY_ID_CAP
    ) -> list[str]:
        """Evaluate the filter, delete matches, return their ids
        (router DelByQueryeExecute client.go:1851-1897; the reference
        materializes the matched-id list in the router response the
        same way). The id list is driver-side by contract, so it is
        limit-probed: when more than ``max_ids`` rows match, the call
        raises WITHOUT deleting anything and points at
        :meth:`delete_by_query_df`, the unbounded distributed form —
        a broad predicate can never OOM the driver."""
        self._check_writable()
        pred = compile_filter(flt, self.schema)
        probe = [
            r[ID_FIELD]
            for r in self.df.where(pred).select(ID_FIELD).limit(max_ids + 1).collect()
        ]
        if len(probe) > max_ids:
            raise DocumentError(
                f"delete_by_query matched more than {max_ids} docs; "
                "use delete_by_query_df() for unbounded deletes"
            )
        self._delete_matches(pred, probe)
        return probe

    def delete_by_query_df(self, flt: dict | Column) -> DataFrame:
        """Distributed delete-by-query: deletes matches and returns the
        matched ids as a one-column DataFrame that never rides through
        the driver — the 100 TB-safe form of the verb. The ids are
        snapshotted (localCheckpoint, executor-side storage) before the
        commit so the returned relation stays valid after the table
        version advances or :meth:`vacuum` reclaims old files."""
        self._check_writable()
        pred = compile_filter(flt, self.schema)
        matched = (
            self.df.where(pred).select(ID_FIELD).localCheckpoint(eager=True)
        )
        self._delete_matches(pred, matched)
        return matched

    def flush(self) -> None:
        """No-op: Spark writes are durable (reference Dump engine.cc:1246)."""

    # ---------------------------------------------------------------- read

    def get(
        self,
        ids: Sequence[str],
        output_fields: list[str] | None = None,
        vector_value: bool = False,
    ) -> DataFrame:
        """Get by ids, capped at 500 (doc_http.go:579-583).
        ``vector_value`` opts vector columns into the output
        (doc_query.go:1445-1447), same as the search verb."""
        self._clear_scheduler_pool()
        if len(ids) >= GET_BY_IDS_CAP:
            # the reference rejects >= 500, not > (doc_http.go:579-583)
            raise DocumentError(f"too many ids: {len(ids)} >= {GET_BY_IDS_CAP}")
        if self._bucketed() and self._manifest is not None:
            # point reads open ONLY the bucket dirs the ids hash to —
            # the reference routes a get to its hash slot the same way
            # (doc_http.go:584-586 partition addressing); scanning the
            # whole multi-root table for ≤500 ids is the wrong plan at
            # any scale
            src = self._read_buckets(self._buckets_of_ids([str(i) for i in ids]))
        else:
            src = self.df
        out = src.where(isin_sql(ID_FIELD, [str(i) for i in ids]))
        cols = list(output_fields or self.schema.default_output_fields())
        if vector_value:
            cols += [f.name for f in self.schema.vector_fields if f.name not in cols]
        return out.select(*cols)

    def _target_partitions(
        self, df: DataFrame, partition_names: Sequence[str] | None
    ) -> DataFrame:
        """Restrict to named range partitions (doc_query.go:1565-1580).
        On a path-backed space this predicate hits the physical
        partition column → parquet directory pruning."""
        if partition_names is None:
            return df
        rule = self.schema.partition_rule
        if rule is None:
            raise SearchError("space has no partition rule")
        unknown = set(partition_names) - set(rule.names())
        if unknown:
            raise SearchError(f"unknown partition names: {sorted(unknown)}")
        return df.where(isin_sql(PARTITION_FIELD, list(partition_names)))

    def scan(
        self,
        after_seq: int | None = None,
        limit: int = topk.DEFAULT_LIMIT,
        output_fields: list[str] | None = None,
    ) -> DataFrame:
        """Cursor iteration in ingest order — the reference's
        ``GetDoc(docid, next=true)`` scan cursor (doc_http.go:611,
        engine.cc:902-912): return up to ``limit`` docs with
        ``_seq > after_seq``. Feed the last row's ``_seq`` back in to
        continue. The page is a pushed-down range predicate + top-k by
        ``_seq`` (TakeOrderedAndProject — no global sort)."""
        df = self.df
        if after_seq is not None:
            df = df.where(F.col(SEQ_FIELD) > int(after_seq))
        out = df.orderBy(F.col(SEQ_FIELD).asc()).limit(int(limit))
        fields = output_fields or self.schema.default_output_fields()
        if SEQ_FIELD not in fields:
            fields = list(fields) + [SEQ_FIELD]  # the cursor itself
        return out.select(*fields)

    def _route_scheduler_pool(
        self,
        limit: int,
        flt: dict | Column | None,
        nprobe: int | None,
        index,
    ) -> None:
        """Slow-search isolation (parseSlowSearch doc_query.go:218-234;
        PS pools ps/handler_document.go:215-224): requests classified
        slow — topN ≥ 500, an IVF probe covering ≥ 1/10 of cells, or
        ≥ 3 filter conditions — are tagged into a separate Spark
        fair-scheduler pool so they can't starve fast queries. The tag
        is the thread-local ``spark.scheduler.pool`` property (one
        request per serving thread); under ``spark.scheduler.mode=FAIR``
        with a pools file the isolation is enforced, under FIFO it is
        an inert label. The cluster-wide switch
        (`POST /config/slow_search_isolation`, cluster_api.go:316 →
        entity.SetSlowSearchIsolation) turns the classification off
        entirely."""
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool",
            SLOW_POOL
            if (
                self._slow_search_isolation
                and is_slow_search(limit, flt, nprobe, index)
            )
            else None,
        )

    def _clear_scheduler_pool(self) -> None:
        """Non-search verbs run in the default pool: the slow-pool tag
        is a thread-local property a prior slow search() left behind —
        without the reset, a following query/get/write on the same
        serving thread would run throttled in the starved pool (the
        isolation inverting onto fast verbs)."""
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    def query(
        self,
        flt: dict | Column | None = None,
        limit: int = topk.DEFAULT_LIMIT,
        offset: int = 0,
        sort: list | None = None,
        page_size: int | None = None,
        page_num: int | None = None,
        output_fields: list[str] | None = None,
        partition_names: Sequence[str] | None = None,
        vector_value: bool = False,
    ) -> DataFrame:
        """Filter scan in ingest (``_seq``) order — the reference's
        query verb (Engine::Query engine.cc:449-528, default limit 50
        doc_query.go:43). ``vector_value`` opts vector columns into the
        output (doc_query.go:1445-1447)."""
        self._clear_scheduler_pool()
        df = self._target_partitions(self.df, partition_names)
        pred = compile_filter(flt, self.schema)
        if pred is not None:
            df = df.where(pred)
        order = sort_ops.parse_sort(sort) if sort else [(SEQ_FIELD, True)]
        for name, _asc in order:
            if name not in (SCORE_FIELD, ID_FIELD, SEQ_FIELD):
                self.schema.field(name)  # unknown sort field -> SchemaError
        out = sort_ops.sorted_page(
            df,
            order,
            limit=limit,
            offset=offset,
            page_size=page_size,
            page_num=page_num,
            tie_break=ID_FIELD,
        )
        cols = list(output_fields or self.schema.default_output_fields())
        if vector_value:
            cols += [f.name for f in self.schema.vector_fields if f.name not in cols]
        return out.select(*cols)

    def _post_sort(
        self,
        hits: DataFrame,
        order: list[tuple[str, bool]] | None,
        metric: Metric,
        page_size: int | None,
        page_num: int | None,
    ) -> DataFrame:
        """Router post-merge treatment of the merged top-k: re-sort by
        the user sort list (applied regardless of ranker,
        doc_service.go:172-187; typed comparators with missing-last
        sortorder/sort.go:23-150) and slice ``page_size``/``page_num``
        out of the final ordered list (client.go:888-904 — pages index
        into the merged topN, so a page past ``limit`` is short/empty).
        Sorting here touches only the ≤limit hit rows, never the scan."""
        if order is None and page_size is None:
            return hits
        if not order:
            # page slicing without a user sort keeps score order
            order = [(SCORE_FIELD, metric.ascending)]
        return sort_ops.sorted_page(
            hits, order, limit=None, offset=0, page_size=page_size, page_num=page_num
        )

    def search(
        self,
        vector: Sequence[float] | None = None,
        vector_field: str | None = None,
        vectors: list[VectorQuery] | None = None,
        weights: Sequence[float] | None = None,
        limit: int = topk.DEFAULT_LIMIT,
        flt: dict | Column | None = None,
        min_score: float | None = None,
        max_score: float | None = None,
        offset: int = 0,
        l2_sqrt: bool = False,
        is_brute_search: int = 2,
        nprobe: int | None = None,
        ef_search: int | None = None,
        output_fields: list[str] | None = None,
        vector_value: bool = False,
        partition_names: Sequence[str] | None = None,
        sort: list | None = None,
        page_size: int | None = None,
        page_num: int | None = None,
    ) -> DataFrame:
        """The search verb (doc_http.go:659-744, SURVEY.md §2.4).

        ``is_brute_search``: 0 = index, 1 = exact scan, 2 = auto (exact
        until an index is trained — engine.cc:280-308).
        ``sort``/``page_size``/``page_num``: post-merge re-sort + page
        slice of the top-k hits (search_doc.go:71-94, client.go:888-904).
        """
        order = sort_ops.parse_sort(sort) if sort else None
        if order:
            # sort fields are auto-projected into the output so the
            # router-side comparator can see them (doc_query.go:1546-1549)
            need = [n for n, _ in order if n != SCORE_FIELD and n != ID_FIELD]
            for n in need:
                self.schema.field(n)  # unknown sort field → SchemaError
            if output_fields is not None:
                output_fields = list(output_fields) + [
                    n for n in need if n not in output_fields
                ]
        base_df = self._target_partitions(self.df, partition_names)
        if vectors:
            self._route_scheduler_pool(limit, flt, None, None)
            for vq in vectors:
                # per-entry field-kind + dimension validation, same as
                # the single-vector path (engine.cc:787-829)
                self._prepare_queries(vq.field, [vq.vector])
            metrics = {self._field_metric(vq.field) for vq in vectors}
            if len(metrics) > 1:
                # one metric across all fields — the reference rejects
                # mixed-metric fusion (space.go:335-337 fixes the
                # metric per space declaration)
                raise SearchError(
                    "multi-vector search requires one metric across fields"
                )
            m = self._field_metric(vectors[0].field)
            weights = fusion_weights(len(vectors), weights)
            if order and output_fields is None:
                # fusion defaults to (_id, _score); a field sort needs
                # the scalar fields joined back in
                output_fields = self.schema.default_output_fields()
            fused = self._fused_index_search(
                vectors, weights, m, limit, flt, l2_sqrt, output_fields,
                is_brute_search, partition_names=partition_names,
                nprobe=nprobe, ef_search=ef_search,
            )
            if fused is None:  # exact per-field scans (the FLAT path)
                fused = multi_vector_search(
                    base_df,
                    vectors,
                    limit=limit,
                    metric=m,
                    weights=weights,
                    flt=flt,
                    schema=self.schema,
                    l2_sqrt=l2_sqrt,
                    output_fields=output_fields,
                )
            return self._post_sort(fused, order, m, page_size, page_num)
        if vector is None:
            raise SearchError("search requires a query vector")
        spec, [query] = self._prepare_queries(vector_field, [vector])

        index = self._indexes.get(spec.name)
        use_index = False
        if is_brute_search == 0:
            if index is None:
                raise SearchError(f"no trained index on {spec.name!r}")
            use_index = True
        elif is_brute_search == 2 and index is not None:
            use_index = True  # auto: index once trained (engine.cc:286-293)

        self._route_scheduler_pool(limit, flt, nprobe, index if use_index else None)
        if use_index:
            # both knobs ride along and each family reads its own, as
            # the engine decodes index_params per index type
            # (doc_query.go:1408-1475): nprobe for IVF, efSearch for
            # the graphs — never repurposed across families
            hits = index.search(
                None,
                query,
                limit=limit,
                flt=self._index_filter(flt, partition_names),
                nprobe=nprobe,
                ef_search=ef_search,
                min_score=min_score,
                max_score=max_score,
                offset=offset,
                l2_sqrt=l2_sqrt,
                output_fields=output_fields,
                vector_value=vector_value,
            )
        else:
            # the exact scan takes the query as given: it normalizes
            # inside the JVM expression, bit-exact with the oracle
            hits = topk.search(
                base_df,
                vector_col=spec.name,
                query=list(vector),
                limit=limit,
                metric=spec.metric,
                flt=flt,
                schema=self.schema,
                min_score=min_score,
                max_score=max_score,
                offset=offset,
                l2_sqrt=l2_sqrt,
                normalize=spec.normalize,
                output_fields=output_fields,
                vector_value=vector_value,
                binary=_is_binary_field(spec),
            )
        return self._post_sort(hits, order, spec.metric, page_size, page_num)

    def search_batch(
        self,
        features: Sequence[Sequence[float]],
        vector_field: str | None = None,
        limit: int = topk.DEFAULT_LIMIT,
        flt: dict | Column | None = None,
        min_score: float | None = None,
        max_score: float | None = None,
        offset: int = 0,
        l2_sqrt: bool = False,
        is_brute_search: int = 2,
        nprobe: int | None = None,
        output_fields: list[str] | None = None,
        partition_names: Sequence[str] | None = None,
    ) -> DataFrame:
        """Batched search: ``features`` = req_num query vectors in ONE
        request (the reference's q×dim feature parse, parseVectors
        doc_query.go:255-338) — returns one row per (query_id, hit),
        the flat form of the router's per-query documents lists.

        Physical routing mirrors :meth:`search`: exact scan =
        ``topk.search_batch`` (one docs scan for the whole batch,
        broadcast queries, per-query rank window — the Hamming
        ``bit_count(xor)`` kernel on binary fields, parseVectors
        doc_query.go:296-309); trained IVF index (float or binary) =
        ``index.search_batch`` (broadcast probe relation, cell-pruned
        scan). A graph index (HNSW, DiskANN) has a batch form, but it
        beams every shard for every query with no cell pruning, so auto
        mode (2) keeps batches on the exact scan for graph indexes and
        forcing is_brute_search=0 on one raises.
        Score band / offset / projection ride the exact path only (the
        IVF batch relation is (query_id, _id, _score)); requesting
        them forces the exact scan, erroring only under
        is_brute_search=0.
        """
        if not features:
            raise SearchError("search_batch requires at least one query")
        spec, qs = self._prepare_queries(vector_field, features)
        binary = _is_binary_field(spec)

        index = self._indexes.get(spec.name)
        batchable = index is not None and not isinstance(index, HNSWIndex)
        extras = (
            min_score is not None
            or max_score is not None
            or offset != 0
            or output_fields is not None
        )
        use_index = False
        if is_brute_search == 0:
            if index is None:
                raise SearchError(f"no trained index on {spec.name!r}")
            if not batchable:
                raise SearchError(
                    "batched search through this index type is not "
                    "supported; use is_brute_search=1"
                )
            if extras:
                raise SearchError(
                    "score band / offset / projection are exact-path "
                    "batch features; drop them or use is_brute_search!=0"
                )
            use_index = True
        elif is_brute_search == 2 and batchable and not extras:
            use_index = True

        self._route_scheduler_pool(limit, flt, nprobe, index if use_index else None)
        if use_index:
            return index.search_batch(
                qs,
                limit=limit,
                flt=self._index_filter(flt, partition_names),
                nprobe=nprobe,
                l2_sqrt=l2_sqrt,
            )
        base_df = self._target_partitions(self.df, partition_names)
        queries = self.spark.createDataFrame(
            [(i, q) for i, q in enumerate(qs)],
            "query_id int, query_vec array<int>"
            if binary
            else "query_id int, query_vec array<double>",
        )
        return topk.search_batch(
            base_df,
            spec.name,
            queries,
            limit=limit,
            metric=spec.metric,
            flt=flt,
            schema=self.schema,
            min_score=min_score,
            max_score=max_score,
            offset=offset,
            l2_sqrt=l2_sqrt,
            output_fields=output_fields,
            binary=binary,
        )

    def _prepare_queries(
        self, vector_field: str | None, vectors: Sequence[Sequence[float]]
    ) -> tuple[FieldSpec, list[list]]:
        """Query preparation for every search verb: resolve the field
        (the only vector field when unnamed), reject a scalar field
        (the reference's wrong_vector_name class, doc_query.go:
        255-338), check each query's length (CheckDoc engine.cc:
        787-829; Hamming fields take d/8 bytes, doc_query.go:296-301),
        cast packed codes to ints, and unit-normalize the queries of a
        normalized field (router-side, client.go:603-658: docs were
        unit-normalized at ingest)."""
        if vector_field is None:
            vfields = self.schema.vector_fields
            if len(vfields) != 1:
                raise SearchError("vector_field is required with multiple vector fields")
            vector_field = vfields[0].name
        spec = self.schema.field(vector_field)
        if spec.type is not FieldType.VECTOR:
            raise SearchError(f"field {vector_field!r} is not a vector field")
        binary = _is_binary_field(spec)
        expected = _expected_vector_len(spec)
        qs = []
        for v in vectors:
            if expected and len(v) != expected:
                raise SearchError(f"query dimension {len(v)} != expected {expected}")
            q = [int(b) for b in v] if binary else [float(x) for x in v]
            if spec.normalize and not binary:
                n = math.sqrt(sum(x * x for x in q))
                if n > 0.0:
                    q = [x / n for x in q]
            qs.append(q)
        return spec, qs

    def _index_filter(
        self, flt: dict | Column | None, partition_names: Sequence[str] | None
    ) -> Column | None:
        """The predicate an index search pushes into its relation: the
        filter ∧ the ``partition_names`` target (an index relation
        carries the partition column, so the target is one more pushed
        predicate)."""
        pred = compile_filter(flt, self.schema)
        if partition_names is not None:
            self._target_partitions(self.df, partition_names)  # validate names
            ppred = F.expr(isin_sql(PARTITION_FIELD, list(partition_names)))
            pred = ppred if pred is None else (pred & ppred)
        return pred

    def _fused_index_search(
        self,
        vectors: list[VectorQuery],
        weights: Sequence[float],
        m: Metric,
        limit: int,
        flt: dict | Column | None,
        l2_sqrt: bool,
        output_fields: list[str] | None,
        is_brute_search: int,
        partition_names: Sequence[str] | None = None,
        nprobe: int | None = None,
        ef_search: int | None = None,
    ) -> DataFrame | None:
        """Index-backed fusion: when every fused field has a trained
        ANN index (and brute force wasn't forced), per-field candidate
        lists come from the indexes — the reference's shape exactly
        (per-field ANN top-k, docid intersection, weighted re-rank,
        vector_manager.cc:1024-1087) — instead of per-field exact
        scans. At scale this is the difference between N pruned probes
        and N full-corpus scans per fused query. Returns None when any
        field lacks an index (the exact path serves, and is also the
        hash-checked oracle path)."""
        from vearch_spark.operators.fusion import default_per_field_k, fuse_parts

        if is_brute_search == 1:
            return None
        models = [self._indexes.get(vq.field) for vq in vectors]
        missing = any(
            mod is None or isinstance(mod, BinaryIVFIndex) for mod in models
        )
        if missing:
            if is_brute_search == 0:
                # force-index with an untrained fused field: same
                # contract as the single-field path — a typed error,
                # never a silent full-corpus scan
                raise SearchError("no trained index on every fused vector field")
            return None
        pred = self._index_filter(flt, partition_names)
        k_field = default_per_field_k(limit)
        parts = []
        for i, (vq, mod) in enumerate(zip(vectors, models)):
            _, [query] = self._prepare_queries(vq.field, [vq.vector])
            part = mod.search(
                None,
                query,
                limit=k_field,
                flt=pred,
                nprobe=nprobe,
                ef_search=ef_search,
                min_score=vq.min_score,
                max_score=vq.max_score,
                l2_sqrt=l2_sqrt,
                output_fields=[ID_FIELD],
            )
            parts.append(
                part.select(ID_FIELD, F.col(SCORE_FIELD).alias(f"_score_{i}"))
            )
        return fuse_parts(
            parts, weights, m, limit, id_col=ID_FIELD, df=self.df,
            output_fields=output_fields,
        )

    # --------------------------------------------------------------- index

    def _field_metric(self, field: str) -> Metric:
        return self.schema.field(field).metric

    def build_index(self, vector_field: str, **params) -> None:
        """Train/refresh the ANN index on a vector field — the analog of
        the background Indexing() loop + /index/rebuild
        (engine.cc:1013-1138). Respects ``training_threshold``: below
        it, training is skipped and search stays brute-force
        (engine.cc:759-768)."""
        spec = self.schema.field(vector_field)
        if spec.index is None or not spec.index.is_vector:
            raise SearchError(f"field {vector_field!r} has no vector index declared")
        merged = dict(spec.index.params)
        merged.update(params)
        threshold = int(merged.get("training_threshold", BRUTE_FORCE_THRESHOLD))
        if self.count() < threshold:
            return  # stays UNINDEXED; auto mode keeps brute force
        physical = spec.index.physical_type
        if physical == "FLAT":
            return  # FLAT is the brute-force scan itself
        if physical == "IVFFLAT" and "ncentroids_l2" in merged:
            # the >64k-cell scale path: an IVFFLAT declaration carrying
            # level-2 params selects the hierarchical coarse quantizer
            if "ncentroids" in merged:
                raise SchemaError(
                    "conflicting index params: 'ncentroids' (flat) and "
                    "'ncentroids_l2' (two-level) — size the cell tree with "
                    "ncentroids_l1 × ncentroids_l2 instead"
                )
            physical = _TWO_LEVEL
        cls, knobs = _INDEX_TYPES[physical]
        model = cls(
            vector_field,
            metric=spec.metric,
            id_col=ID_FIELD,
            **{k: int(v) for k, v in merged.items() if k in knobs},
        )
        model.fit(self.df)
        self._indexes[vector_field] = model
        if self.path:
            self._persist_index(vector_field, model)

    def rebuild_indexes(self, drop_before_rebuild: bool = True) -> list[str]:
        """Retrain every declared non-FLAT vector index from the
        current table (Engine::RebuildIndex engine.cc:1013-1084).
        ``drop_before_rebuild`` (the reference's default) releases the
        trained models first so searches fall back to brute force
        during the rebuild instead of serving the stale index. Returns
        the field names for which a NEW model landed — with
        ``drop_before_rebuild=False`` a below-threshold skip leaves the
        old model in place, which is not a rebuild."""
        if drop_before_rebuild:
            for model in self._indexes.values():
                # release the cached relations — clearing the dict
                # alone would leak one full cached copy per rebuild
                model.unpersist()
            self._indexes.clear()
        before = {name: id(model) for name, model in self._indexes.items()}
        rebuilt = []
        for f in self.schema.vector_fields:
            if (
                f.index is not None
                and f.index.is_vector
                and f.index.physical_type != "FLAT"
            ):
                self.build_index(f.name)
                model = self._indexes.get(f.name)
                if model is not None and id(model) != before.get(f.name):
                    rebuilt.append(f.name)
        return rebuilt

    def _index_meta_path(self) -> str:
        return os.path.join(self.path, "indexes", "meta.json")

    def _persist_index(self, field: str, model) -> None:
        """Dump the trained index beside the table (Engine::Dump
        engine.cc:1246): the cluster-partitioned parquet form whose
        probes prune directories, stamped with the table version it was
        trained at so a reopen can tell live from stale. The dump is
        written to a fresh directory and renamed into place before
        ``meta.json`` is swapped, so ``meta.json`` never names a
        half-written dump."""
        import shutil

        root = os.path.join(self.path, "indexes")
        dump = os.path.join(root, field)
        staged = os.path.join(root, f".{field}.{uuid.uuid4().hex}")
        try:
            model.save(staged)
        except BaseException:
            shutil.rmtree(staged, ignore_errors=True)  # a failed dump leaves no orphan
            raise
        if os.path.exists(dump):
            shutil.rmtree(dump)
        os.replace(staged, dump)
        mp = self._index_meta_path()
        try:
            meta = read_json(mp) if os.path.exists(mp) else {}
        except SchemaError:
            meta = {}  # damaged: it named nothing loadable
        meta[field] = {
            "kind": type(model).__name__,
            "table_version": int(self._manifest["version"]) if self._manifest else 0,
        }
        write_json(mp, meta)

    def _load_persisted_indexes(self) -> None:
        """Reload dumped indexes on open (Engine::Load) — but ONLY
        those trained at the current table version. An index older than
        the table would silently serve pre-write state, breaking the
        write-consistency invariant every search relies on; stale dumps
        stay on disk and the field reports UNINDEXED until the next
        build_index (the reference likewise rebuilds indexes that lag
        the WAL on restart). A dump this engine cannot serve — an
        unknown kind, or a damaged ``meta.json`` or dump — is skipped
        the same way: search stays exact until the next build_index
        re-dumps it."""
        mp = self._index_meta_path()
        if not os.path.exists(mp):
            return
        try:
            meta = read_json(mp)
        except SchemaError:
            return
        current = int(self._manifest["version"]) if self._manifest else 0
        kinds = {cls.__name__: cls for cls, _ in _INDEX_TYPES.values()}
        for field, entry in meta.items():
            cls = kinds.get(entry.get("kind")) if isinstance(entry, dict) else None
            if cls is None or entry.get("table_version") != current:
                continue
            try:
                self._indexes[field] = cls.load(
                    self.spark, os.path.join(self.path, "indexes", field)
                )
            except SchemaError:
                continue

    def add_index(self, field_name: str, index_type: str = "SCALAR",
                  params: dict | None = None) -> None:
        """Add an index to an existing field — the one schema mutation
        the reference allows post-creation (POST /indexes,
        space.go:87-93, Engine::AddFieldIndex engine.cc:1561). Scalar:
        the field becomes filterable. Vector: declares the ANN strategy;
        call :meth:`build_index` to train it."""
        from vearch_spark.schema import IndexSpec

        spec = self.schema.field(field_name)
        new_index = IndexSpec(field_name, index_type, params or {})
        if (spec.type is FieldType.VECTOR) != new_index.is_vector:
            raise SchemaError(
                f"index type {index_type!r} does not fit field {field_name!r}"
            )
        spec.index = new_index
        self._store_space_meta()  # addition survives restarts (etcd parity)

    def list_indexes(self, detail: bool = False) -> dict:
        """``GET /dbs/{db}/spaces/{space}/indexes`` (cluster_api.go:
        291-292 → SpaceService.ListIndexes space_service.go:1425-1455;
        test_module_space_indexes.py:311-324 expects explicit and
        inline per-field indexes in ONE list — here every index is
        field-inline, so the list is the fields' specs). ``detail``
        mirrors ``?detail=true``: the reference fans out per-replica
        build state (collectIndexBuildState); the single local engine
        collapses that to each index's state."""
        indexes = []
        for f in self.schema.fields:
            if f.index is None:
                continue
            entry: dict = {
                "name": f.index.name,
                "type": f.index.index_type,
                "field": f.name,
            }
            if f.index.params:
                entry["params"] = dict(f.index.params)
            if detail:
                entry["state"] = (
                    self.index_state(f.name)
                    if f.type is FieldType.VECTOR
                    else "INDEXED"  # scalar filters need no training
                )
            indexes.append(entry)
        return {"space_name": self.schema.name, "indexes": indexes}

    def remove_index(self, index_name: str) -> None:
        """``DELETE /dbs/{db}/spaces/{space}/indexes/{name}``
        (cluster_api.go:294 → SpaceService.RemoveIndex
        space_service.go:1727-1782): empty name rejected, unknown name
        errors, and the FIELD's inline index is cleared too (the
        reference clears fields[].index or the removed index would
        resurrect from SpaceProperties on restart). A vector field's
        trained model is dropped with its declaration — subsequent
        searches brute-force, filters on the field reject
        (doc_query.go:1169-1171 parity)."""
        if not index_name:
            raise DocumentError("index name cannot be empty")
        for f in self.schema.fields:
            if f.index is not None and f.index.name == index_name:
                model = self._indexes.pop(f.name, None)
                if model is not None:
                    unp = getattr(model, "unpersist", None)
                    if unp is not None:
                        unp()
                f.index = None
                if self.path:
                    self._store_space_meta()  # removal survives restarts
                return
        raise DocumentError(
            f"index {index_name} not found in space {self.schema.name}"
        )

    def backup(self, path: str) -> int:
        """Space-level export (master backup routes doc_http.go:217-222,
        internal/ps/backup/): one parquet snapshot + the create-space
        JSON. Returns the doc count."""
        os.makedirs(path, exist_ok=True)
        self.df.write.mode("overwrite").parquet(os.path.join(path, "docs"))
        # create-space payload PLUS the constructor-level knobs a
        # restore must reproduce (partition_num = bucket count, space
        # config) — SpaceSchema.from_json ignores the extra keys, so
        # old backups stay readable
        write_json(
            os.path.join(path, "schema.json"),
            {
                **self.schema.to_json(),
                "partition_num": int(self.n_buckets),
                "config": {k: v for k, v in self._config.items() if k != "path"},
            },
        )
        return self.count()

    @classmethod
    def restore(cls, spark: SparkSession, path: str,
                target_path: str | None = None) -> "Space":
        """Recreate a Space from a backup (schema + docs, `_seq`
        preserved so scan order survives the round trip; bucket count
        and config come back too — a restored space must not silently
        revert to default partition_num/refresh_interval)."""
        payload = read_json(os.path.join(path, "schema.json"))
        schema = SpaceSchema.from_json(payload)
        space = cls(
            spark,
            schema,
            path=target_path,
            n_buckets=int(payload.get("partition_num", 16)),
            refresh_interval=int(
                (payload.get("config") or {}).get("refresh_interval", 1000)
            ),
        )
        cfg = dict(payload.get("config") or {})
        cfg.pop("path", None)
        space._config.update(cfg)
        space._config["path"] = target_path
        if target_path:
            space._store_space_meta()  # persist the restored config too
        docs = spark.read.parquet(os.path.join(path, "docs"))
        # high-water mark first so a path-backed commit persists it
        row = docs.agg(F.max(SEQ_FIELD).alias("m")).collect()[0]
        space._max_seq = int(row["m"] or 0)
        space._commit(docs)
        return space

    def describe(self) -> dict:
        """The GET-space verb: schema, index states, partition info,
        doc count (master space detail response — space.go:132-152)."""
        rule = self.schema.partition_rule
        return {
            "name": self.schema.name,
            "doc_count": self.count(),
            "fields": [
                {
                    "name": f.name,
                    "type": f.type.value,
                    **({"dimension": f.dimension} if f.dimension else {}),
                    **(
                        {
                            "index": {
                                "type": f.index.index_type,
                                "state": self.index_state(f.name)
                                if f.index.is_vector
                                else "INDEXED",
                            }
                        }
                        if f.index
                        else {}
                    ),
                }
                for f in self.schema.fields
            ],
            "partition_rule": (
                {"type": "RANGE", "field": rule.field, "ranges": rule.names()}
                if rule
                else None
            ),
        }

    def index_state(self, vector_field: str) -> str:
        """UNINDEXED | INDEXED (space.go:126; INDEXING has no analog —
        build_index is synchronous here)."""
        return "INDEXED" if vector_field in self._indexes else "UNINDEXED"
