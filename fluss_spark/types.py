"""Type system: Fluss-style type names ⇄ Spark types, schemas with field
IDs, primary keys, bucket/partition specs.

Mirrors the reference's fixed explicit schema model
(fluss-common/src/main/java/org/apache/fluss/types/DataTypes.java,
metadata/Schema.java:60-916): nullable by default, field IDs for schema
evolution, per-column optional aggregate function (the aggregation merge
engine), JSON serialization. The Spark mapping follows the reference's
own connector (fluss-spark/.../types/FlussToSparkTypeVisitor.scala:28-110).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import types as T

# Fluss type name -> Spark type (parameterless types)
_SIMPLE: dict[str, T.DataType] = {
    "BOOLEAN": T.BooleanType(),
    "TINYINT": T.ByteType(),
    "SMALLINT": T.ShortType(),
    "INT": T.IntegerType(),
    "BIGINT": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "STRING": T.StringType(),
    "CHAR": T.StringType(),  # length enforced by engine, not the type
    "BYTES": T.BinaryType(),
    "BINARY": T.BinaryType(),
    "DATE": T.DateType(),
    "TIME": T.IntegerType(),  # millis-of-day; Spark has no TIME type
    "TIMESTAMP": T.TimestampNTZType(),  # Fluss TIMESTAMP is NTZ
    "TIMESTAMP_LTZ": T.TimestampType(),
}


def parse_type(name: str) -> T.DataType:
    """Parse a Fluss-style type string (e.g. 'INT', 'DECIMAL(10,2)',
    'ARRAY<INT>') into a Spark DataType. Accepts Spark DDL too."""
    s = name.strip().upper()
    base = s.split("(")[0].split("<")[0].strip()
    if base in _SIMPLE and "(" not in s and "<" not in s:
        return _SIMPLE[base]
    if base in ("CHAR", "VARCHAR"):
        return T.StringType()
    if base in ("BINARY", "VARBINARY"):
        return T.BinaryType()
    if base == "DECIMAL":
        inner = s[s.index("(") + 1 : s.rindex(")")]
        p, sc = (int(x) for x in inner.split(","))
        return T.DecimalType(p, sc)
    if base in ("TIME", "TIMESTAMP", "TIMESTAMP_LTZ") and "(" in s:
        return _SIMPLE[base]
    # fall back to Spark's own DDL parser for ARRAY/MAP/ROW/STRUCT
    ddl = name.strip().replace("ROW<", "STRUCT<")
    return T.StructType.fromDDL(f"c {ddl}")["c"].dataType


def type_name(dt: T.DataType) -> str:
    """Inverse of parse_type for storage in schema JSON."""
    return dt.simpleString()


def ddl_of(struct: T.StructType) -> str:
    """DDL string form of a read schema. simpleString() is pure Python,
    so reader.schema(ddl_of(st)) costs ONE py4j round trip where
    reader.schema(st) converts the tree field-by-field (~2 round trips
    per field) — it adds up on the per-commit hot paths."""
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in struct.fields)


@dataclass
class Field:
    name: str
    type: str  # type string, parseable by parse_type
    nullable: bool = True
    field_id: int = -1
    agg: str | None = None  # aggregation merge-engine function for this column
    auto_increment: bool = False  # M10 (Schema.java:552, server/kv/autoinc/)
    comment: str | None = None  # Schema.Column.comment (Schema.java:590-602)

    def to_struct_field(self) -> T.StructField:
        md = {"fieldId": self.field_id}
        if self.agg:
            md["agg"] = self.agg
        if self.auto_increment:
            md["autoIncrement"] = True
        if self.comment:
            md["comment"] = self.comment
        return T.StructField(self.name, parse_type(self.type), self.nullable, metadata=md)


@dataclass
class TableSchema:
    """Schema + distribution + semantics properties of one table.

    Properties follow the reference's table options
    (config/ConfigOptions.java:1661-1947): table.merge-engine,
    table.merge-engine.versioned.ver-column, table.delete.behavior,
    table.changelog.image, table.log.ttl, table.auto-partition.*.
    """

    fields: list[Field]
    primary_key: list[str] = field(default_factory=list)
    bucket_keys: list[str] = field(default_factory=list)  # default: pk
    num_buckets: int = 4
    partition_keys: list[str] = field(default_factory=list)
    properties: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        names = [f.name for f in self.fields]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate column names: {names}")
        for k in self.primary_key + self.bucket_keys + self.partition_keys:
            if k not in names:
                raise ValueError(f"key column {k!r} not in schema {names}")
        if self.primary_key and not self.bucket_keys:
            # bucket key defaults to the primary key minus partition keys
            self.bucket_keys = [c for c in self.primary_key if c not in self.partition_keys]
        # assign field IDs (schema evolution anchor, Schema.java:223)
        next_id = max((f.field_id for f in self.fields), default=-1) + 1
        for f in self.fields:
            if f.field_id < 0:
                f.field_id = next_id
                next_id += 1
        if self.primary_key:
            for f in self.fields:
                if f.name in self.primary_key and f.nullable:
                    f.nullable = False  # pk implies NOT NULL

    # -- derived ----------------------------------------------------------
    @property
    def is_pk_table(self) -> bool:
        return bool(self.primary_key)

    @property
    def merge_engine(self) -> str:
        return self.properties.get("table.merge-engine", "default")

    @property
    def version_column(self) -> str | None:
        return self.properties.get("table.merge-engine.versioned.ver-column")

    @property
    def delete_behavior(self) -> str:
        # merge-engine tables ignore deletes unless configured otherwise
        default = "ignore" if self.merge_engine != "default" else "allow"
        return self.properties.get("table.delete.behavior", default)

    @property
    def changelog_image(self) -> str:
        return self.properties.get("table.changelog.image", "full")

    @property
    def defer_commits(self) -> int:
        """table.snapshot.defer-commits = K: commits per snapshot
        materialization. K <= 1 materializes every commit (the fused
        single-action commit); K > 1 makes commits WAL-only until the
        K-th folds the tail into the snapshot."""
        return int(self.properties.get("table.snapshot.defer-commits", "1") or "1")

    @property
    def agg_spec(self) -> dict[str, str]:
        """column -> aggregate function (aggregation merge engine)."""
        return {f.name: f.agg for f in self.fields if f.agg}

    def data_columns(self) -> list[str]:
        return [f.name for f in self.fields]

    def non_key_columns(self) -> list[str]:
        return [f.name for f in self.fields if f.name not in self.primary_key]

    def to_struct_type(self) -> T.StructType:
        return T.StructType([f.to_struct_field() for f in self.fields])

    # -- json -------------------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "fields": [
                    {
                        "name": f.name,
                        "type": f.type,
                        "nullable": f.nullable,
                        "fieldId": f.field_id,
                        **({"agg": f.agg} if f.agg else {}),
                        **({"autoIncrement": True} if f.auto_increment else {}),
                        **({"comment": f.comment} if f.comment else {}),
                    }
                    for f in self.fields
                ],
                "primaryKey": self.primary_key,
                "bucketKeys": self.bucket_keys,
                "numBuckets": self.num_buckets,
                "partitionKeys": self.partition_keys,
                "properties": self.properties,
            },
            indent=2,
        )

    @staticmethod
    def from_json(s: str) -> "TableSchema":
        d = json.loads(s)
        return TableSchema(
            fields=[
                Field(
                    name=f["name"],
                    type=f["type"],
                    nullable=f.get("nullable", True),
                    field_id=f.get("fieldId", -1),
                    agg=f.get("agg"),
                    auto_increment=f.get("autoIncrement", False),
                    comment=f.get("comment"),
                )
                for f in d["fields"]
            ],
            primary_key=d.get("primaryKey", []),
            bucket_keys=d.get("bucketKeys", []),
            num_buckets=d.get("numBuckets", 4),
            partition_keys=d.get("partitionKeys", []),
            properties=d.get("properties", {}),
        )


# system columns every scan carries (TableDescriptor.java:59-70)
OFFSET_COL = "__offset"
TIMESTAMP_COL = "__timestamp"
BUCKET_COL = "__bucket"
CHANGE_TYPE_COL = "_change_type"
LOG_OFFSET_COL = "_log_offset"
COMMIT_TS_COL = "_commit_timestamp"

# CDC change-type vocabulary (record/ChangeType.java:28-58)
APPEND_ONLY = "+A"
INSERT = "+I"
UPDATE_BEFORE = "-U"
UPDATE_AFTER = "+U"
DELETE = "-D"


# -- schema evolution: field-ID-based read resolution ---------------------

# legal type widenings (ALTER COLUMN TYPE): the value domain of the old
# type embeds losslessly in the new one, so old files are readable with
# a cast and new writes never truncate (same set Iceberg/Parquet allow)
_WIDEN_CHAINS = (
    ["tinyint", "smallint", "int", "bigint"],
    ["float", "double"],
)


def is_widening(old: str, new: str) -> bool:
    """True if `old` -> `new` is a lossless widening (simpleString names)."""
    o, n = parse_type(old).simpleString(), parse_type(new).simpleString()
    if o == n:
        return False  # no-op, not a change
    for chain in _WIDEN_CHAINS:
        if o in chain and n in chain:
            return chain.index(o) < chain.index(n)
    if o.startswith("decimal(") and n.startswith("decimal("):
        po, so = (int(x) for x in o[8:-1].split(","))
        pn, sn = (int(x) for x in n[8:-1].split(","))
        return sn == so and pn > po
    return False


EVOLUTION_PROP = "schema.evolution"


def evolution_eras(schema: "TableSchema") -> list[dict]:
    """Parsed `schema.evolution` property: ordered era records, each
    {"until": <last commit version written under it>, "fields":
    [{"id","name","type"}, ...]}. Appended by rename/retype alters only
    (add/drop need no era: name-based reads already resolve them)."""
    raw = schema.properties.get(EVOLUTION_PROP)
    return json.loads(raw) if raw else []


def era_fields_for_commit(
    eras: list[dict], commit_version: int
) -> dict[int, tuple[str, str]] | None:
    """id -> (physical name, physical type) for files written at
    `commit_version`; None = current schema applies (identity fast path
    — callers keep their single-scan plan)."""
    for era in eras:  # ordered oldest-first; first era covering it wins
        if commit_version <= era["until"]:
            return {f["id"]: (f["name"], f["type"]) for f in era["fields"]}
    return None


def era_struct_fields(schema: "TableSchema", era: dict[int, tuple[str, str]]):
    """Physical StructFields of one era's layout, restricted to fields
    that still exist in the CURRENT schema (matched by id). Fields added
    after the era are surfaced as NULLs by era_projection, not read."""
    from pyspark.sql import types as T

    return [
        T.StructField(era[f.field_id][0], parse_type(era[f.field_id][1]), True)
        for f in schema.fields
        if f.field_id in era
    ]


def era_projection(schema: "TableSchema", era: dict[int, tuple[str, str]], extra_cols):
    """Columns mapping one era's physical layout onto the CURRENT
    schema: resolve by field id (alias), widen by cast; fields added
    after the era read as typed NULLs. System columns pass through."""
    from pyspark.sql import functions as F

    cols = []
    for f in schema.fields:
        cur_t = parse_type(f.type)
        if f.field_id in era:
            phys_name, _ = era[f.field_id]
            cols.append(F.col(phys_name).cast(cur_t).alias(f.name))
        else:
            cols.append(F.lit(None).cast(cur_t).alias(f.name))
    return cols + [F.col(c) for c in extra_cols]
