"""Column-mapping helpers shared by the scan (read) and writer (write) paths.

Delta column mapping (``name`` / ``id`` modes) renames every struct field —
top-level AND nested — to a physical name recorded in field metadata
(``delta.columnMapping.physicalName``) and assigns a numeric field id
(``delta.columnMapping.id``) that lands in parquet footers as
``parquet.field.id``. The reference resolves physical columns from footers
(delta_utils.hpp:300-311); nested renames are exercised by its generated
column_mapping tests. Spark-first translation: physical schemas are plain
StructTypes and the logical<->physical rename of nested fields is a struct
CAST (Catalyst struct casts are positional, so a cast to the same shape
with different field names IS the rename, executed codegen-side).
"""

from __future__ import annotations

from pyspark.sql import types as T

PHYS_KEY = "delta.columnMapping.physicalName"
ID_KEY = "delta.columnMapping.id"


def field_meta(
    f: T.StructField, with_field_ids: bool = True
) -> tuple[str, dict]:
    """(physical name, parquet metadata) for one mapped field."""
    md = f.metadata or {}
    phys = md.get(PHYS_KEY, f.name)
    fid = md.get(ID_KEY)
    return phys, (
        {"parquet.field.id": int(fid)}
        if (fid is not None and with_field_ids) else {}
    )


def physical_type(
    dt: T.DataType, with_field_ids: bool = True
) -> T.DataType:
    """Recursively rename struct fields to their physical names, replacing
    the mapping metadata with ``parquet.field.id`` (what the parquet writer
    emits and the field-id-matching reader consumes). Identity on unmapped
    subtrees.

    ``with_field_ids=False`` omits the parquet ids — REQUIRED for
    name-mode READ schemas: the spec matches name mode by physical name
    only, and tables UPGRADED to name mode contain files written before
    any ids existed; with ``spark.sql.parquet.fieldId.read.enabled`` on
    (session-global, set by any id-mode scan), an id-carrying read
    schema makes Spark reject those id-less files outright."""
    if isinstance(dt, T.StructType):
        out = []
        for f in dt.fields:
            phys, meta = field_meta(f, with_field_ids)
            out.append(
                T.StructField(
                    phys, physical_type(f.dataType, with_field_ids),
                    f.nullable, meta,
                )
            )
        return T.StructType(out)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            physical_type(dt.elementType, with_field_ids), dt.containsNull
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            dt.keyType,
            physical_type(dt.valueType, with_field_ids),
            dt.valueContainsNull,
        )
    return dt


def physical_path_map(schema: T.StructType) -> dict[str, str]:
    """logical dotted path → physical dotted path, every struct level
    (stats JSON and partitionValues are keyed by PHYSICAL names on mapped
    tables, so file pruning must translate nested predicate paths too)."""
    out: dict[str, str] = {}

    def walk(fields, lpre: str, ppre: str) -> None:
        for f in fields:
            phys, _ = field_meta(f)
            lp = f"{lpre}.{f.name}" if lpre else f.name
            pp = f"{ppre}.{phys}" if ppre else phys
            out[lp] = pp
            if isinstance(f.dataType, T.StructType):
                walk(f.dataType.fields, lp, pp)

    walk(schema.fields, "", "")
    return out


def contains_type(dt: T.DataType, *kinds: type) -> bool:
    """True when an instance of one of ``kinds`` appears anywhere in the
    (nested) type."""
    if isinstance(dt, kinds):
        return True
    if isinstance(dt, T.StructType):
        return any(contains_type(f.dataType, *kinds) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return contains_type(dt.elementType, *kinds)
    if isinstance(dt, T.MapType):
        return (contains_type(dt.keyType, *kinds)
                or contains_type(dt.valueType, *kinds))
    return False


def nullable_type(dt: T.DataType) -> T.DataType:
    """Deep copy with every nested field nullable (Spark refuses to cast
    into non-nullable struct fields); metadata preserved."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, nullable_type(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(nullable_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, nullable_type(dt.valueType), True)
    return dt
