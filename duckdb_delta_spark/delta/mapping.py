"""Column mapping: the one module that knows how logical Delta columns map
to the columns inside data and change-data files.

Delta column mapping (``name`` / ``id`` modes) gives every struct field —
top-level AND nested, map keys included — a physical name recorded in
field metadata (``delta.columnMapping.physicalName``) and a numeric field
id (``delta.columnMapping.id``) that lands in parquet footers as
``parquet.field.id``. The reference resolves physical columns from footers
(delta_utils.hpp:300-311); nested renames are exercised by its generated
column_mapping tests. Spark-first translation: physical schemas are plain
StructTypes and the logical<->physical rename of nested fields is a struct
CAST (Catalyst struct casts are positional, so a cast to the same shape
with different field names IS the rename, executed codegen-side).

Reading and writing differ on purpose:

* A READ schema carries physical names at every nesting level (a logical
  nested type would name-match nothing and null every nested field). In
  id mode it also carries ``parquet.field.id`` at every level and turns
  on Spark's field-id matching, so a file resolves by id whatever names
  it uses. In name mode it carries NO ids: the spec matches name mode by
  physical name only, and a table UPGRADED to name mode holds files
  written before any ids existed — with
  ``spark.sql.parquet.fieldId.read.enabled`` on (session-global, set by
  any id-mode read), an id-carrying read schema makes Spark reject those
  id-less files outright.
* A WRITE schema carries the ids at every level in both modes: the spec
  requires writers to emit field ids whenever column mapping is enabled.
* With mapping off, both are the logical schema.
"""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PHYS_KEY = "delta.columnMapping.physicalName"
ID_KEY = "delta.columnMapping.id"


def physical_name(f: T.StructField) -> str:
    return (f.metadata or {}).get(PHYS_KEY, f.name)


def field_id(f: T.StructField) -> int | None:
    fid = (f.metadata or {}).get(ID_KEY)
    return None if fid is None else int(fid)


def name_map(schema: T.StructType) -> dict[str, str]:
    """logical → physical name of every top-level field (identity for a
    field without mapping metadata). Stats JSON, partitionValues and
    clustering columns are keyed by PHYSICAL names on mapped tables."""
    return {f.name: physical_name(f) for f in schema.fields}


def physical_type(
    dt: T.DataType, with_field_ids: bool = True
) -> T.DataType:
    """Recursively rename struct fields to their physical names, replacing
    the mapping metadata with ``parquet.field.id`` (what the parquet writer
    emits and the field-id-matching reader consumes); ``with_field_ids=
    False`` omits the ids (the name-mode read schema). Identity on
    unmapped subtrees."""
    if isinstance(dt, T.StructType):
        out = []
        for f in dt.fields:
            fid = field_id(f) if with_field_ids else None
            out.append(
                T.StructField(
                    physical_name(f),
                    physical_type(f.dataType, with_field_ids), f.nullable,
                    {} if fid is None else {"parquet.field.id": fid},
                )
            )
        return T.StructType(out)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            physical_type(dt.elementType, with_field_ids), dt.containsNull
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            physical_type(dt.keyType, with_field_ids),
            physical_type(dt.valueType, with_field_ids),
            dt.valueContainsNull,
        )
    return dt


def read_schema(
    spark: SparkSession, fields: list[T.StructField], mode: str
) -> T.StructType:
    """The schema to read data or change-data files of these logical
    ``fields`` with, under mapping ``mode`` (see the module docstring):
    physical names, plus field ids and field-id matching in id mode only;
    the logical names and types when mapping is off."""
    if mode == "none":
        return T.StructType([T.StructField(f.name, f.dataType) for f in fields])
    if mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return physical_type(T.StructType(fields), with_field_ids=mode == "id")


def write_schema(
    spark: SparkSession, fields: list[T.StructField]
) -> T.StructType:
    """The physical schema to write these logical ``fields`` under on a
    mapped table — ids at every level, which Spark's parquet writer
    emits once field-id writing is on (turned on here)."""
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    return physical_type(T.StructType(fields))


def to_logical(phys: str, f: T.StructField, mode: str):
    """Column ``phys`` of a frame read with :func:`read_schema`, renamed
    back to logical field ``f`` — nested fields through a cast to the
    logical shape, made all-nullable because the file read is."""
    col = F.col(phys)
    if mode != "none" and physical_type(f.dataType) != f.dataType:
        col = col.cast(nullable_type(f.dataType))
    return col.alias(f.name)


def assign_ids(
    schema: T.StructType, start_id: int = 0,
    physical_names: str = "uuid",
) -> tuple[T.StructType, int]:
    """Assign ``delta.columnMapping.id``/``physicalName`` to every struct
    field (nested included, inside array elements and map keys and
    values too) that lacks them — what delta-spark does when column
    mapping is enabled. Existing metadata is preserved, so
    fixture-authored schemas keep their ids; ids start past ``start_id``
    (the table's ``delta.columnMapping.maxColumnId``) and past every id
    already in the schema. Returns (schema, new maxColumnId). With stable
    physical names in place, RENAME/DROP COLUMN become pure metadata
    commits.

    ``physical_names="logical"`` assigns each field's LOGICAL name as its
    physical name instead of a fresh ``col-<uuid>`` — the delta-spark
    UPGRADE semantics (enabling name mode on an EXISTING table), where
    the already-written files are keyed by logical names and a fresh
    physical name would orphan every one of them."""
    max_id = start_id

    # global pre-scan FIRST: ids already present anywhere in the schema
    # (arbitrarily deep, incl. structs inside arrays/maps) must never
    # collide with freshly assigned parent-level ids (spec: unique)
    def scan(dt: T.DataType) -> None:
        nonlocal max_id
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                fid = field_id(f)
                if fid is not None:
                    max_id = max(max_id, fid)
                scan(f.dataType)
        elif isinstance(dt, T.ArrayType):
            scan(dt.elementType)
        elif isinstance(dt, T.MapType):
            scan(dt.keyType)
            scan(dt.valueType)

    scan(schema)

    def walk(dt: T.DataType, fresh: bool) -> T.DataType:
        # ``fresh``: the field holding ``dt`` got its id in this call
        nonlocal max_id
        if isinstance(dt, T.StructType):
            out = []
            for f in dt.fields:
                md = dict(f.metadata or {})
                new = ID_KEY not in md
                if new:
                    max_id += 1
                    md[ID_KEY] = max_id
                md.setdefault(
                    PHYS_KEY,
                    f.name if physical_names == "logical"
                    else f"col-{uuid.uuid4()}",
                )
                out.append(T.StructField(
                    f.name, walk(f.dataType, new), f.nullable, md))
            return T.StructType(out)
        if (isinstance(dt, (T.ArrayType, T.MapType)) and not fresh
                and not has_ids(dt)):
            # a mapped column whose array/map structs carry no mapping
            # at all was written before they were mapped: its files hold
            # those fields under their logical names and no field ids,
            # which only an unmapped subtree keeps reading
            return dt
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(walk(dt.elementType, fresh), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(walk(dt.keyType, fresh),
                             walk(dt.valueType, fresh), dt.valueContainsNull)
        return dt

    def has_ids(dt: T.DataType) -> bool:
        if isinstance(dt, T.StructType):
            return any(field_id(f) is not None or has_ids(f.dataType)
                       for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return has_ids(dt.elementType)
        if isinstance(dt, T.MapType):
            return has_ids(dt.keyType) or has_ids(dt.valueType)
        return False

    return walk(schema, True), max_id


def physical_path_map(schema: T.StructType) -> dict[str, str]:
    """logical dotted path → physical dotted path, every struct level
    (stats JSON and partitionValues are keyed by PHYSICAL names on mapped
    tables, so file pruning must translate nested predicate paths too)."""
    out: dict[str, str] = {}

    def walk(fields, lpre: str, ppre: str) -> None:
        for f in fields:
            phys = physical_name(f)
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
        # the map KEY itself has no null flag, but fields INSIDE a
        # struct-typed key do — Spark's parquet read types them nullable,
        # so a cast target keeping them NOT NULL refuses to resolve
        return T.MapType(
            nullable_type(dt.keyType), nullable_type(dt.valueType), True
        )
    return dt


#: integer digits each integral type needs when widening into a decimal
_INT_DECIMAL_DIGITS = {T.ByteType: 3, T.ShortType: 5,
                       T.IntegerType: 10, T.LongType: 20}


def is_widening(frm: T.DataType, to: T.DataType) -> bool:
    """Spec-allowed type widenings (Delta PROTOCOL.md "Type Widening"):
    integral up-chain, int->double, float->double, date->timestampNtz,
    integral->decimal with enough integer digits, and decimal precision
    growth that never loses integer digits or scale."""
    if isinstance(frm, T.ByteType):
        if isinstance(to, (T.ShortType, T.IntegerType, T.LongType,
                           T.DoubleType)):
            return True
    elif isinstance(frm, T.ShortType):
        if isinstance(to, (T.IntegerType, T.LongType, T.DoubleType)):
            return True
    elif isinstance(frm, T.IntegerType):
        if isinstance(to, (T.LongType, T.DoubleType)):
            return True
    elif isinstance(frm, T.FloatType) and isinstance(to, T.DoubleType):
        return True
    elif isinstance(frm, T.DateType) and isinstance(to, T.TimestampNTZType):
        return True
    if isinstance(to, T.DecimalType):
        need = _INT_DECIMAL_DIGITS.get(type(frm))
        if need is not None:
            return to.precision - to.scale >= need
        if isinstance(frm, T.DecimalType):
            return (
                to.scale >= frm.scale
                and to.precision - to.scale >= frm.precision - frm.scale
                and (to.precision, to.scale)
                != (frm.precision, frm.scale)
            )
    return False
