"""JSON Schema -> table-tree compiler.

Re-expresses the reference's ``src/jsonSchemaInspector.ts`` (buildMeta and
friends) as a pure-Python compiler that emits, per physical table node:

- the ordered PK column specs (ROOT / PARENT / CURRENT / LEVEL, in that
  order — reference ``jsonSchemaInspector.ts:131-151``),
- the simple (non-key) column specs,
- a Spark ``StructType`` *parse schema* used by the vectorized shredder
  (array-children are captured as raw-JSON strings so one ``from_json`` pass
  suffices per nesting level),
- recursive children, one per array-of-X property
  (``jsonSchemaInspector.ts:202-212``).

Semantics preserved from the reference:

- nested 1..1 objects flatten into the parent with ``a__b`` compound names
  and nullability propagation (``jsonSchemaInspector.ts:162-200``);
- arrays of scalars become a child table with a single ``value`` column
  (``jsonSchemaInspector.ts:263-281``);
- arrays with ``format: "nested"`` stay in-row as array columns
  (``jsonSchemaInspector.ts:235,306-309``);
- multi-type unions take the first non-null type
  (``jsonSchemaInspector.ts:285-287``);
- unknown types are skipped with a warning (``jsonSchemaInspector.ts:257-260``);
- an array child is refused when the root has no key properties
  (``jsonSchemaInspector.ts:236-238``);
- PK properties are excluded from simple columns (``jsonSchemaInspector.ts:219``).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Optional

from pyspark.sql import types as T

from ..identifiers import (
    DEFAULT_SUBTABLE_SEPARATOR,
    NESTED_SUB_OBJECT_SEPARATOR,
    escape_identifier,
    plain_identifier,
)

log = logging.getLogger(__name__)


class PKType(Enum):
    CURRENT = "CURRENT"
    ROOT = "ROOT"
    PARENT = "PARENT"
    LEVEL = "LEVEL"


def format_level_index_column(level: int) -> str:
    return f"_level_{level}_index"


def format_root_pk_column(prop: str) -> str:
    return f"_root_{prop}"


def format_parent_pk_column(prop: str) -> str:
    return f"_parent_{prop}"


class SchemaError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Type mapping (reference jsonSchemaInspector.ts:324-374, getSimpleColumnSqlType)
# ---------------------------------------------------------------------------

_STRING_FORMATS = {
    None: ("String", T.StringType()),
    "date": ("Date", T.DateType()),
    "x-excel-date": ("Date", T.DateType()),
    "date-time": ("DateTime", T.TimestampType()),
    "date-time64": ("DateTime64", T.TimestampType()),
    "uuid": ("UUID", T.StringType()),
}

_INTEGER_FORMATS = {
    None: ("Int64", T.LongType()),
    "int64": ("Int64", T.LongType()),
    "int32": ("Int32", T.IntegerType()),
    "int16": ("Int16", T.ShortType()),
    "int8": ("Int8", T.ByteType()),
    # Spark has no int128; Decimal(38,0) is the widest exact integer type.
    "int128": ("Int128", T.DecimalType(38, 0)),
}

_NUMBER_FORMATS = {
    "float64": ("Float64", T.DoubleType()),
    "float32": ("Float32", T.FloatType()),
}


def _as_list(x) -> list:
    if x is None:
        return []
    return x if isinstance(x, list) else [x]


def _non_null_types(type_field) -> list[str]:
    return [t for t in _as_list(type_field) if t != "null"]


def _is_nullable(prop_def: dict) -> bool:
    return "null" in _as_list(prop_def.get("type"))


def scalar_type(prop_def: dict, key: Optional[str], alias: str) -> Optional[tuple[str, T.DataType]]:
    """JSON type/format -> (ClickHouse type string, Spark type).

    Returns None for unrecognized types (caller warns & skips the column,
    matching ``jsonSchemaInspector.ts:257-260``). Raises for unsupported
    formats (``jsonSchemaInspector.ts:353,363,369``).
    """
    types = _non_null_types(prop_def.get("type"))
    jtype = types[0] if types else None
    fmt = prop_def.get("format")
    if jtype == "string":
        if fmt in _STRING_FORMATS:
            return _STRING_FORMATS[fmt]
        return _STRING_FORMATS[None]
    if jtype == "integer":
        if fmt in _INTEGER_FORMATS:
            return _INTEGER_FORMATS[fmt]
        raise SchemaError(f"{alias}.{key}: unsupported integer format [{fmt}]")
    if jtype == "number":
        if fmt is None:
            precision = prop_def.get("precision") or 16
            decimals = prop_def.get("decimals") or 2
            return (f"Decimal({precision}, {decimals})", T.DecimalType(precision, decimals))
        if fmt in _NUMBER_FORMATS:
            return _NUMBER_FORMATS[fmt]
        raise SchemaError(f"{alias}.{key}: unsupported number format [{fmt}]")
    if jtype == "boolean":
        if fmt is None:
            # ClickHouse stores booleans as UInt8 0/1; Spark keeps a real bool.
            return ("UInt8", T.BooleanType())
        raise SchemaError(f"{alias}.{key}: unsupported boolean format [{fmt}]")
    return None


# ---------------------------------------------------------------------------
# Meta model (reference ISourceMeta, jsonSchemaInspector.ts:93-100)
# ---------------------------------------------------------------------------


@dataclass
class ColumnSpec:
    #: Source property name; compound for flattened nested objects, with path
    #: parts joined by the internal separator (reference keeps lodash paths).
    prop: str
    #: Escaped identifier WITH backticks — byte-compatible with the reference
    #: for parity checks.
    sql_identifier: str
    #: ClickHouse scalar type string (parity with reference DDL).
    ch_type: Optional[str]
    #: Spark type of the scalar (or array element when nested_array).
    spark_type: Optional[T.DataType]
    nullable: bool = False
    low_cardinality: bool = False
    nested_array: bool = False
    pk_type: Optional[PKType] = None
    #: JSON-source type name, used by the value translator (C3).
    json_type: Optional[str] = None

    @property
    def name(self) -> str:
        """Physical (unquoted) column name used in the lake."""
        return self.sql_identifier.replace("`", "")

    @property
    def path(self) -> list[str]:
        """Path of the property inside the (parsed) record struct."""
        return self.prop.split(NESTED_SUB_OBJECT_SEPARATOR)

    def spark_field_type(self) -> T.DataType:
        t = self.spark_type if self.spark_type is not None else T.StringType()
        return T.ArrayType(t, containsNull=True) if self.nested_array else t


@dataclass
class TableMeta:
    #: Property / stream alias this node was built from.
    prop: str
    #: Escaped table name WITH backticks (parity).
    sql_table_name: str
    pk_columns: list[ColumnSpec] = field(default_factory=list)
    simple_columns: list[ColumnSpec] = field(default_factory=list)
    children: list["TableMeta"] = field(default_factory=list)
    cleaning_column: Optional[str] = None
    level: int = 0

    @property
    def table_name(self) -> str:
        return self.sql_table_name.replace("`", "")

    @property
    def is_root(self) -> bool:
        return self.level == 0

    def pks_of(self, *kinds: PKType) -> list[ColumnSpec]:
        return [c for c in self.pk_columns if c.pk_type in kinds]

    @property
    def has_replacing_semantics(self) -> bool:
        """Root with PKs -> ReplacingMergeTree(_ver); else plain append
        (reference ``jsonSchemaTranslator.ts:36``)."""
        return self.is_root and len(self.pk_columns) > 0

    @property
    def version_column(self) -> Optional[str]:
        """Reference ``jsonSchemaTranslator.ts:22-34``: root-with-PK tables get
        ``_ver``; every child gets ``_root_ver``; root without PK gets none."""
        if self.is_root:
            return "_ver" if self.pk_columns else None
        return "_root_ver"

    def order_by_columns(self) -> list[str]:
        """The dedup / sort key (reference ``jsonSchemaTranslator.ts:39-53``):
        root -> CURRENT pks; child -> ROOT + LEVEL columns."""
        if self.is_root:
            return [c.name for c in self.pks_of(PKType.CURRENT)]
        return [c.name for c in self.pks_of(PKType.ROOT, PKType.LEVEL)]

    def target_schema(self) -> T.StructType:
        """Spark schema of the physical lake table."""
        fields = []
        for c in self.pk_columns:
            fields.append(T.StructField(c.name, c.spark_field_type(), nullable=False))
        for c in self.simple_columns:
            fields.append(T.StructField(c.name, c.spark_field_type(), nullable=True))
        if self.version_column:
            fields.append(T.StructField(self.version_column, T.LongType(), nullable=False))
        return T.StructType(fields)

    def walk(self):
        yield self
        for ch in self.children:
            yield from ch.walk()

    def table_names(self) -> list[str]:
        return [m.table_name for m in self.walk()]

    # -- parse schema ------------------------------------------------------
    def parse_schema(self) -> T.StructType:
        """StructType handed to ``from_json`` for THIS node's records.

        Scalar props appear with their Spark type; flattened nested-object
        props appear as their full dotted path (nested StructTypes rebuilt
        from the compound names); array-children appear as StringType fields
        capturing the raw JSON (Spark's from_json keeps the unparsed text for
        string-typed struct fields), so each nesting level is parsed lazily by
        the shredder — this is what makes the reference's "object where array
        expected -> wrap as 1-element array" rule (``RecordProcessor.ts:117-119``)
        expressible without Python row logic.
        """
        root: dict[str, Any] = {}

        def insert(path: list[str], dtype: T.DataType):
            node = root
            for part in path[:-1]:
                node = node.setdefault(part, {})
                if not isinstance(node, dict):  # pragma: no cover - defensive
                    raise SchemaError(f"path conflict at {part}")
            node[path[-1]] = dtype

        for c in self.pks_of(PKType.CURRENT) + self.simple_columns:
            insert(c.path, c.spark_field_type())
        for ch in self.children:
            insert(ch.prop.split(NESTED_SUB_OBJECT_SEPARATOR), T.StringType())

        def to_struct(node: dict) -> T.StructType:
            return T.StructType(
                [
                    T.StructField(k, to_struct(v) if isinstance(v, dict) else v, nullable=True)
                    for k, v in node.items()
                ]
            )

        return to_struct(root)


# ---------------------------------------------------------------------------
# buildMeta (reference jsonSchemaInspector.ts:154-160, 216-282)
# ---------------------------------------------------------------------------


@dataclass
class _Ctx:
    """Compiler context ≙ ``JsonSchemaInspectorContext``."""

    alias: str
    schema: dict
    key_properties: list[str]
    subtable_separator: str = DEFAULT_SUBTABLE_SEPARATOR
    parent: Optional["_Ctx"] = None
    level: int = 0
    table_name: Optional[str] = None
    cleaning_column: Optional[str] = None
    #: ``all_key_properties``: {"props": [...], "children": {name: {...}}}
    all_key_properties: dict = field(default_factory=lambda: {"props": [], "children": {}})

    def __post_init__(self):
        if self.table_name is None:
            prefix = f"{self.parent.table_name}{self.subtable_separator}" if self.parent else ""
            self.table_name = f"{prefix}{self.alias}"

    @property
    def is_root(self) -> bool:
        return self.parent is None

    def root(self) -> "_Ctx":
        return self if self.is_root else self.parent.root()

    def is_type_object(self) -> bool:
        return "object" in _as_list(self.schema.get("type"))


def _pk_spec(prop: str, ctx: _Ctx, pk_type: PKType, formatter=None) -> ColumnSpec:
    name = formatter(prop) if formatter else prop
    st = scalar_type(ctx.schema.get("properties", {}).get(prop, {}), prop, ctx.alias)
    if st is None:
        raise SchemaError(f"{ctx.alias}: key property '{prop}' has no usable type")
    ch_type, spark_type = st
    prop_def = ctx.schema.get("properties", {}).get(prop, {})
    return ColumnSpec(
        prop=prop,
        sql_identifier=escape_identifier(name, ctx.subtable_separator),
        ch_type=ch_type,
        spark_type=spark_type,
        nullable=False,
        pk_type=pk_type,
        json_type=(_non_null_types(prop_def.get("type")) or [None])[0],
    )


def _build_pk_columns(ctx: _Ctx) -> list[ColumnSpec]:
    """Reference ``buildMetaPkProps`` (jsonSchemaInspector.ts:131-151):
    ROOT pks (children only), PARENT pks (when parent declared
    all_key_properties props), CURRENT pks, LEVEL indexes."""
    cols: list[ColumnSpec] = []
    if not ctx.is_root:
        root = ctx.root()
        for prop in root.key_properties:
            cols.append(_pk_spec(prop, root, PKType.ROOT, format_root_pk_column))
        parent = ctx.parent
        if parent is not None and len(parent.all_key_properties.get("props", [])) > 0:
            for prop in parent.key_properties:
                cols.append(_pk_spec(prop, parent, PKType.PARENT, format_parent_pk_column))
    for prop in ctx.key_properties:
        cols.append(_pk_spec(prop, ctx, PKType.CURRENT))
    for lvl in range(ctx.level):
        name = format_level_index_column(lvl)
        cols.append(
            ColumnSpec(
                prop=name,
                sql_identifier=escape_identifier(name, ctx.subtable_separator),
                ch_type="Int32",
                spark_type=T.IntegerType(),
                nullable=False,
                pk_type=PKType.LEVEL,
                json_type="integer",
            )
        )
    return cols


def _column_spec(key: str, prop_def: dict, ctx: _Ctx) -> Optional[ColumnSpec]:
    nested_array = False
    effective = prop_def
    if prop_def.get("format") == "nested" and "array" in _as_list(prop_def.get("type")):
        effective = prop_def.get("items") or {}
        nested_array = True
    st = scalar_type(effective, key, ctx.alias)
    if st is None:
        return None
    ch_type, spark_type = st
    return ColumnSpec(
        prop=key,
        sql_identifier=escape_identifier(key, ctx.subtable_separator),
        ch_type=ch_type,
        spark_type=spark_type,
        nullable=_is_nullable(effective),
        low_cardinality=effective.get("lowCardinality") is True,
        nested_array=nested_array,
        json_type=(_non_null_types(effective.get("type")) or [None])[0],
    )


def _flatten_nested_object(prop_def: dict, key: str, ctx: _Ctx) -> tuple[list[ColumnSpec], list[TableMeta]]:
    """Reference ``flattenNestedObject`` (jsonSchemaInspector.ts:171-200):
    fold 1..1 object props into the parent under compound names; a nullable
    parent makes all flattened children nullable."""
    nullable = _is_nullable(prop_def)
    nested_props = {}
    for nk, nd in (prop_def.get("properties") or {}).items():
        nd = dict(nd)
        if nullable:
            ts = _as_list(nd.get("type"))
            if "null" not in ts:
                nd["type"] = ts + ["null"]
        nested_props[f"{key}{NESTED_SUB_OBJECT_SEPARATOR}{nk}"] = nd
    sub_ctx = _Ctx(
        alias=ctx.alias,
        schema={"type": "object", "properties": nested_props},
        key_properties=[],
        subtable_separator=ctx.subtable_separator,
        parent=ctx,
        level=ctx.level,
        table_name=ctx.table_name,
    )
    return _build_props(sub_ctx)


def _create_sub_table(prop_def: dict, key: str, ctx: _Ctx) -> TableMeta:
    """Reference ``createSubTable`` (jsonSchemaInspector.ts:202-212)."""
    akp = ctx.all_key_properties.get("children", {}).get(key) or {"props": [], "children": {}}
    sub_ctx = _Ctx(
        alias=key,
        schema=prop_def.get("items") or {"type": "string"},
        key_properties=akp.get("props", []),
        subtable_separator=ctx.subtable_separator,
        parent=ctx,
        level=ctx.level + 1,
        all_key_properties=akp,
    )
    return _build(sub_ctx)


def _build_props(ctx: _Ctx) -> tuple[list[ColumnSpec], list[TableMeta]]:
    """Reference ``buildMetaProps`` (jsonSchemaInspector.ts:216-282)."""
    simple: list[ColumnSpec] = []
    children: list[TableMeta] = []
    if ctx.is_type_object():
        for key, prop_def in (ctx.schema.get("properties") or {}).items():
            if key in ctx.key_properties:  # PKs excluded from simple columns
                continue
            if not isinstance(prop_def, dict):
                raise SchemaError(f"{ctx.alias}.{key}: boolean propDef not supported")
            types = _as_list(prop_def.get("type"))
            if "object" in types:
                s, c = _flatten_nested_object(prop_def, key, ctx)
                simple.extend(s)
                children.extend(c)
            elif "array" in types and prop_def.get("format") != "nested":
                root = ctx.root()
                if not root.key_properties and not root.all_key_properties.get("props", []):
                    raise SchemaError(
                        f"{ctx.alias}: {key} refused: array child with no root key properties"
                    )
                children.append(_create_sub_table(prop_def, key, ctx))
            else:
                spec = _column_spec(key, prop_def, ctx)
                if spec is not None:
                    simple.append(spec)
                else:
                    log.warning(
                        "'%s': '%s': could not be registered (type '%s' unrecognized)",
                        ctx.alias, key, prop_def.get("type"),
                    )
    else:
        # Scalar array child: single `value` column
        # (jsonSchemaInspector.ts:263-281).
        if ctx.schema.get("type"):
            st = scalar_type(ctx.schema, None, ctx.alias)
            ch_type, spark_type = st if st else (None, None)
            simple.append(
                ColumnSpec(
                    prop="",
                    sql_identifier=escape_identifier("value", ctx.subtable_separator),
                    ch_type=ch_type,
                    spark_type=spark_type,
                    nullable=_is_nullable(ctx.schema),
                    json_type=(_non_null_types(ctx.schema.get("type")) or [None])[0],
                )
            )
    return simple, children


def _build(ctx: _Ctx) -> TableMeta:
    simple, children = _build_props(ctx)
    return TableMeta(
        prop=ctx.alias,
        sql_table_name=escape_identifier(ctx.table_name, ctx.subtable_separator),
        pk_columns=_build_pk_columns(ctx),
        simple_columns=simple,
        children=children,
        cleaning_column=ctx.cleaning_column,
        level=ctx.level,
    )


def build_meta(
    stream: str,
    schema: dict,
    key_properties: list[str],
    subtable_separator: str = DEFAULT_SUBTABLE_SEPARATOR,
    cleaning_column: Optional[str] = None,
    all_key_properties: Optional[dict] = None,
) -> TableMeta:
    """Compile a stream's JSON Schema into a table-tree
    (≙ reference ``buildMeta``, ``jsonSchemaInspector.ts:154-160``)."""
    ctx = _Ctx(
        alias=stream,
        schema=schema,
        key_properties=list(key_properties or []),
        subtable_separator=subtable_separator,
        cleaning_column=cleaning_column,
        all_key_properties=all_key_properties or {"props": [], "children": {}},
    )
    return _build(ctx)
