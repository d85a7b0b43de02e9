"""Space schema: field types, index specs, validation.

Re-expresses the reference's space/field model (internal/entity/space.go,
internal/proto/data_model.proto:9-19) as a Spark ``StructType`` builder
plus the same validation error surface:

- reserved output fields ``_id`` / ``_score`` may not be user fields
  (space.go:441-446);
- vector fields require ``dimension`` (space.go:485-488);
- metric is ``L2`` or ``InnerProduct`` only (space.go:335-337);
- the only array type is ``string_array`` (data_model.proto:9-19);
- schema is fixed at creation; indexes may be added later
  (space.go:87-93) — in Spark an "index" is a *declaration* that makes a
  field filterable (parity with doc_query.go:1169-1171's unindexed-field
  rejection) and, for vectors, selects the ANN physical strategy.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import types as T

from vearch_spark.errors import SchemaError

ID_FIELD = "_id"
SCORE_FIELD = "_score"
SEQ_FIELD = "_seq"  # deterministic ingest-order docid analog (engine.cc:730-752)
PARTITION_FIELD = "_partition_name"  # derived range-rule routing column
RESERVED_FIELDS = {ID_FIELD, SCORE_FIELD, SEQ_FIELD, PARTITION_FIELD}


class FieldType(str, Enum):
    """Wire field types (data_model.proto:9-19; parse space.go:464-503)."""

    STRING = "string"
    INT = "integer"
    LONG = "long"
    FLOAT = "float"
    DOUBLE = "double"
    BOOL = "boolean"
    DATE = "date"
    STRING_ARRAY = "string_array"
    VECTOR = "vector"

    @classmethod
    def parse(cls, s: str) -> "FieldType":
        aliases = {
            "keyword": cls.STRING,
            "text": cls.STRING,
            "short": cls.INT,
            "byte": cls.INT,
            "int": cls.INT,
            "bool": cls.BOOL,
            "stringarray": cls.STRING_ARRAY,
        }
        key = s.lower()
        if key in aliases:
            return aliases[key]
        try:
            return cls(key)
        except ValueError:
            raise SchemaError(f"unsupported field type: {s!r}") from None


NUMERIC_TYPES = {FieldType.INT, FieldType.LONG, FieldType.FLOAT, FieldType.DOUBLE}
RANGEABLE_TYPES = NUMERIC_TYPES | {FieldType.DATE}
TERM_TYPES = {FieldType.STRING, FieldType.STRING_ARRAY}

_SPARK_TYPES = {
    FieldType.STRING: T.StringType(),
    FieldType.INT: T.IntegerType(),
    FieldType.LONG: T.LongType(),
    FieldType.FLOAT: T.FloatType(),
    FieldType.DOUBLE: T.DoubleType(),
    FieldType.BOOL: T.BooleanType(),
    FieldType.DATE: T.TimestampType(),  # reference stores int64 ns (doc_query.go:710-724)
    FieldType.STRING_ARRAY: T.ArrayType(T.StringType()),
    FieldType.VECTOR: T.ArrayType(T.FloatType()),
}


class Metric(str, Enum):
    """Distance metrics (space.go:335-337, router_grpc.proto:138-145)."""

    L2 = "L2"
    INNER_PRODUCT = "InnerProduct"

    @classmethod
    def parse(cls, s: str) -> "Metric":
        for m in cls:
            if m.value.lower() == s.lower():
                return m
        raise SchemaError(f"metric type not supported: {s!r} (L2 | InnerProduct)")

    @property
    def ascending(self) -> bool:
        """Score sort direction: L2 asc, IP desc (doc_query.go:1526-1528)."""
        return self is Metric.L2


# Vector index types the reference registers (SURVEY.md §2.4). HNSW is
# real (sharded per-partition graphs + global merge — the reference's
# own hnswlib-per-PS-shard architecture, operators/hnsw.py); SSG (also
# a graph method) is served by it. SCANN and DISKANN_STATIC are real
# implementations (see their entries below); only the GPU_* types are
# aliases — GPU-specific physical strategies served by their
# CPU-native counterparts (documented substitution).
VECTOR_INDEX_TYPES = {
    "FLAT": "FLAT",
    "IVFFLAT": "IVFFLAT",
    "IVFPQ": "IVFPQ",
    "IVFPQFASTSCAN": "IVFPQFASTSCAN",
    "IVFRABITQ": "IVFRABITQ",
    "BINARYIVF": "BINARYIVF",
    "HNSW": "HNSW",
    "SSG": "HNSW",
    # SCANN: IVFPQFASTSCAN with residual codes and anisotropic
    # (noise-shaped) assignment (operators/ivf.py ScannIndex,
    # scann/config.txt parity)
    "SCANN": "SCANN",
    # DISKANN_STATIC: sharded Vamana graphs on the HNSW scaffolding
    # (operators/vamana.py, R/L/l_search/alpha knobs, static
    # full-build semantics)
    "DISKANN_STATIC": "DISKANN_STATIC",
    "GPU_IVFPQ": "IVFPQ",
    "GPU_IVFFLAT": "IVFFLAT",
}
SCALAR_INDEX_TYPES = {"SCALAR", "INVERTED", "BITMAP", "COMPOSITE"}


@dataclass
class IndexSpec:
    """Named per-field index (space.go:47-53).

    For scalar fields this only *enables filtering* on the field
    (doc_query.go:1169-1171 parity); Catalyst provides the actual access
    path. For vector fields ``params`` carries the ANN knobs
    (space.go:76-85): ncentroids, nprobe, nsubvector, training_threshold.
    """

    name: str
    index_type: str
    params: dict = field(default_factory=dict)

    def __post_init__(self):
        up = self.index_type.upper()
        if up not in VECTOR_INDEX_TYPES and up not in SCALAR_INDEX_TYPES:
            raise SchemaError(f"unsupported index type: {self.index_type!r}")
        self.index_type = up

    @property
    def is_vector(self) -> bool:
        return self.index_type in VECTOR_INDEX_TYPES

    @property
    def physical_type(self) -> str:
        """The Spark-native strategy actually used to serve this index."""
        return VECTOR_INDEX_TYPES.get(self.index_type, self.index_type)


@dataclass
class FieldSpec:
    name: str
    type: FieldType
    dimension: int | None = None
    metric: Metric = Metric.L2
    normalize: bool = False  # format: normalization (space.go:496-499)
    index: IndexSpec | None = None

    def __post_init__(self):
        if isinstance(self.type, str):
            self.type = FieldType.parse(self.type)
        if isinstance(self.metric, str):
            self.metric = Metric.parse(self.metric)
        if self.name in RESERVED_FIELDS:
            # space.go:441-446
            raise SchemaError(f"field name {self.name!r} is reserved")
        if self.type is FieldType.VECTOR:
            if not self.dimension or self.dimension <= 0:
                # space.go:485-488
                raise SchemaError(f"vector field {self.name!r} requires a positive dimension")
        elif self.dimension is not None:
            raise SchemaError(f"dimension is only valid on vector fields ({self.name!r})")
        if self.index is not None:
            if self.type is FieldType.VECTOR and not self.index.is_vector:
                raise SchemaError(f"vector field {self.name!r} needs a vector index type")
            if self.type is not FieldType.VECTOR and self.index.is_vector:
                raise SchemaError(f"scalar field {self.name!r} cannot take a vector index")
            if is_binary_field(self) and self.dimension % 8:
                # codes arrive as whole packed bytes; a non-multiple-of-8
                # bit dimension would silently validate against
                # dimension//8 bytes and lose the remainder bits
                raise SchemaError(
                    f"binary vector field {self.name!r} requires a dimension "
                    f"divisible by 8, got {self.dimension}"
                )

    @property
    def spark_type(self) -> T.DataType:
        return _SPARK_TYPES[self.type]

    @property
    def indexed(self) -> bool:
        return self.index is not None


@dataclass
class PartitionRule:
    """RANGE partition rule — DATE field only (partition.go:128-151).

    ``ranges`` is an ordered list of (name, upper_bound_iso): range i
    covers [ranges[i-1].value, ranges[i].value) and a doc routes to the
    first range whose bound exceeds its field value (space.go:255-285).
    A doc outside every range is rejected at ingest. On Spark the rule
    becomes a derived partition column the table is *written
    partitioned by*, so a ``partition_names`` target (doc_query.go:
    1565-1580) prunes parquet directories, not just rows.
    """

    field: str
    ranges: list[tuple[str, str]]

    def __post_init__(self):
        if not self.ranges:
            raise SchemaError("partition rule requires at least one range")
        names = [n for n, _ in self.ranges]
        if len(set(names)) != len(names):
            raise SchemaError("duplicate partition range names")
        # bounds must parse and ascend: routing walks the declared
        # order and takes the FIRST bound exceeding the value, so an
        # unordered declaration silently misroutes (a 2019 doc lands in
        # the partition declared first, not the one covering it)
        from datetime import datetime

        parsed = []
        for n, v in self.ranges:
            try:
                parsed.append(datetime.fromisoformat(str(v).replace("Z", "+00:00")))
            except ValueError:
                raise SchemaError(
                    f"partition range {n!r} has unparseable bound {v!r}"
                ) from None
        try:
            for prev, cur in zip(parsed, parsed[1:]):
                if cur <= prev:
                    raise SchemaError(
                        "partition range bounds must be strictly ascending"
                    )
        except TypeError:
            raise SchemaError(
                "partition range bounds mix timezone-aware and naive timestamps"
            ) from None

    def names(self) -> list[str]:
        return [n for n, _ in self.ranges]


@dataclass
class SpaceSchema:
    """A space definition: name + ordered fields (space.go:132-152)."""

    name: str
    fields: list[FieldSpec]
    partition_rule: PartitionRule | None = None

    def __post_init__(self):
        if not self.name:
            raise SchemaError("space name is required")
        seen: set[str] = set()
        for f in self.fields:
            if f.name in seen:
                raise SchemaError(f"duplicate field {f.name!r}")
            seen.add(f.name)
        if not self.fields:
            raise SchemaError("space requires at least one field")
        if self.partition_rule is not None:
            spec = self.field(self.partition_rule.field)
            if spec.type is not FieldType.DATE:
                # RANGE rule is DATE-only (partition.go:128-151)
                raise SchemaError(
                    f"partition rule field {spec.name!r} must be a date field"
                )

    @classmethod
    def from_json(cls, spec: dict) -> "SpaceSchema":
        """Parse the reference's JSON create-space schema (space.go:464-559)."""
        fields = []
        for fj in spec.get("fields", []):
            idx = fj.get("index")
            # an explicit "params": null is a present key — coalesce it
            # so it doesn't crash .get chains with AttributeError
            idx_params = (idx.get("params") or {}) if idx else {}
            index = (
                IndexSpec(
                    name=idx.get("name", fj["name"]),
                    index_type=idx.get("type", "SCALAR"),
                    params=idx_params,
                )
                if idx
                else None
            )
            # metric lives at field level for unindexed vector fields
            # (to_json emits it there — index params alone lost it and
            # round-tripped InnerProduct fields back to L2)
            metric_s = fj.get("metric_type") or idx_params.get("metric_type")
            fields.append(
                FieldSpec(
                    name=fj["name"],
                    type=FieldType.parse(fj.get("type", "string")),
                    dimension=fj.get("dimension"),
                    metric=Metric.parse(metric_s) if metric_s else Metric.L2,
                    normalize=fj.get("format") == "normalization",
                    index=index,
                )
            )
        rule_j = spec.get("partition_rule")
        rule = None
        if rule_j:
            if str(rule_j.get("type", "RANGE")).upper() != "RANGE":
                raise SchemaError("only RANGE partition rules are supported")
            rule = PartitionRule(
                field=rule_j["field"],
                ranges=[(r["name"], r["value"]) for r in rule_j.get("ranges", [])],
            )
        return cls(name=spec.get("name", ""), fields=fields, partition_rule=rule)

    def to_json(self) -> dict:
        """Inverse of :meth:`from_json` — the create-space payload that
        reproduces this schema (used by Space.backup)."""
        fields = []
        for f in self.fields:
            fj: dict = {"name": f.name, "type": f.type.value}
            if f.dimension:
                fj["dimension"] = f.dimension
            if f.normalize:
                fj["format"] = "normalization"
            if f.type is FieldType.VECTOR and f.index is None:
                # no index params to carry the metric — emit it at
                # field level or a backup/restore round-trip silently
                # degrades InnerProduct to L2 (worst hits sort first)
                fj["metric_type"] = f.metric.value
            if f.index is not None:
                params = dict(f.index.params)
                if f.type is FieldType.VECTOR:
                    params.setdefault("metric_type", f.metric.value)
                fj["index"] = {
                    "name": f.index.name,
                    "type": f.index.index_type,
                    "params": params,
                }
            fields.append(fj)
        out: dict = {"name": self.name, "fields": fields}
        if self.partition_rule is not None:
            out["partition_rule"] = {
                "type": "RANGE",
                "field": self.partition_rule.field,
                "ranges": [
                    {"name": n, "value": v} for n, v in self.partition_rule.ranges
                ],
            }
        return out

    def field(self, name: str) -> FieldSpec:
        for f in self.fields:
            if f.name == name:
                return f
        raise SchemaError(f"unknown field: {name!r}")

    @property
    def vector_fields(self) -> list[FieldSpec]:
        return [f for f in self.fields if f.type is FieldType.VECTOR]

    @property
    def scalar_fields(self) -> list[FieldSpec]:
        return [f for f in self.fields if f.type is not FieldType.VECTOR]

    def to_struct_type(self, include_system: bool = True) -> T.StructType:
        cols = []
        if include_system:
            cols.append(T.StructField(ID_FIELD, T.StringType(), nullable=False))
        cols += [T.StructField(f.name, f.spark_type, nullable=True) for f in self.fields]
        if include_system:
            cols.append(T.StructField(SEQ_FIELD, T.LongType(), nullable=False))
            if self.partition_rule is not None:
                cols.append(T.StructField(PARTITION_FIELD, T.StringType(), nullable=False))
        return T.StructType(cols)

    def default_output_fields(self) -> list[str]:
        """Default projection = ``_id`` + all scalar fields, vectors
        excluded (doc_query.go:1425-1434)."""
        return [ID_FIELD] + [f.name for f in self.scalar_fields]


def is_binary_field(spec: FieldSpec) -> bool:
    """BINARYIVF-indexed vector fields carry PACKED codes: dimension d
    bits arrive as d/8 byte values (doc_query.go:296-301)."""
    return (
        spec.type is FieldType.VECTOR
        and spec.index is not None
        and getattr(spec.index, "index_type", None) == "BINARYIVF"
    )


def expected_vector_len(spec: FieldSpec) -> int | None:
    """Input length for a vector field: d floats, or d/8 bytes when the
    field is Hamming-space — the ONE dimension contract every ingest
    path (upsert, partial update, JSONL bulk load) validates against."""
    if not spec.dimension:
        return None
    return spec.dimension // 8 if is_binary_field(spec) else spec.dimension
