"""DDL synthesis + schema-evolution diffing.

Re-expresses the reference's ``src/jsonSchemaTranslator.ts``:

- ``to_qualified_type`` — ClickHouse type-string composition
  ``Array(LowCardinality(Nullable(T)))`` (``jsonSchemaTranslator.ts:90-100``),
  kept verbatim because the column diff compares *these strings*;
- ``create_table_ddl`` — the reference's ``CREATE TABLE … ENGINE … ORDER BY``
  statement (``jsonSchemaTranslator.ts:57-78``), emitted for parity tests and
  documentation (the lake itself stores the same facts in its manifest);
- ``expected_columns`` — the column descriptors incl. ``_ver``/``_root_ver``
  and sorting-key flags (``jsonSchemaTranslator.ts:158-183``). One rule
  serves both table creation (the manifest's ``ch_columns``) and the
  schema-evolution diff, so a re-sent SCHEMA diffs against exactly what
  creation stored. Root-ness follows the table tree (``TableMeta.is_root``),
  deliberately unlike the reference's "has no ROOT pk" test: a child of a
  keyless root that declares ``all_key_properties`` has no ROOT pk either,
  and the reference rule would diff it as a root — dropping its level index
  and ``_root_ver`` and adding ``_ver`` on every later run
  (``test_keyless_root_child_schema_stable_across_runs``);
- ``columns_intersection`` — {missing, modified, obsolete}
  (``jsonSchemaTranslator.ts:117-144``);
- ``check_primary_keys_consistency`` — PK add/remove vs existing sorting key
  is an error (``jsonSchemaTranslator.ts:146-156``).
"""

from __future__ import annotations

from dataclasses import dataclass

from .inspector import ColumnSpec, PKType, TableMeta


@dataclass(frozen=True)
class Column:
    """≙ reference ``ClickhouseConnection.Column``."""

    name: str
    type: str
    is_in_sorting_key: bool = False


def to_qualified_type(col: ColumnSpec) -> str:
    """Compose modifiers (reference ``jsonSchemaTranslator.ts:90-100``)."""
    t = col.ch_type
    for modifier, enabled in (("Nullable", col.nullable), ("LowCardinality", col.low_cardinality), ("Array", col.nested_array)):
        if enabled:
            t = f"{modifier}({t})"
    return t


def resolve_engine(meta: TableMeta) -> str:
    """Reference ``jsonSchemaTranslator.ts:36``."""
    return "ReplacingMergeTree(_ver)" if meta.is_root and meta.pk_columns else "MergeTree"


def _order_by_content(idents: list[str]) -> str:
    if not idents:
        return "tuple()"
    inner = ", ".join(idents)
    return f"({inner})" if len(idents) > 1 else inner


def resolve_order_by(meta: TableMeta) -> str:
    """Reference ``jsonSchemaTranslator.ts:39-53``."""
    if meta.is_root:
        idents = [c.sql_identifier for c in meta.pks_of(PKType.CURRENT)]
    else:
        idents = [c.sql_identifier for c in meta.pks_of(PKType.ROOT, PKType.LEVEL)]
    return _order_by_content(idents)


def _version_column_def(meta: TableMeta, with_type: bool = True) -> str:
    """Reference ``resolveVersionColumn`` (jsonSchemaTranslator.ts:22-34)."""
    suffix = " UInt64" if with_type else ""
    vc = meta.version_column
    return f"`{vc}`{suffix}" if vc else ""


def create_table_ddl(database: str, meta: TableMeta, recursive: bool) -> list[str]:
    """Reference ``translateCH`` (jsonSchemaTranslator.ts:57-78), emitted for
    parity tests; refuses zero-column tables like the reference."""
    if not meta.simple_columns and not meta.pk_columns:
        raise ValueError("Attempting to create table without columns")
    defs = (
        [f"{c.sql_identifier} {c.ch_type}" for c in meta.pk_columns]
        + [f"{c.sql_identifier} {to_qualified_type(c)}" for c in meta.simple_columns]
        + [_version_column_def(meta)]
    )
    defs = [d for d in defs if d]
    out = [
        f"CREATE TABLE {database}.{meta.sql_table_name} ( {', '.join(defs)} ) "
        f"ENGINE = {resolve_engine(meta)} ORDER BY {resolve_order_by(meta)}"
    ]
    if recursive:
        for child in meta.children:
            out.extend(create_table_ddl(database, child, recursive))
    return out


def expected_columns(meta: TableMeta) -> list[Column]:
    """The table's column descriptors in physical order (pks, simple
    columns, version column): what creation stores and what an existing
    table is diffed against (reference ``updateSchema``'s expectedColumns,
    jsonSchemaTranslator.ts:158-183)."""
    sorting = meta.order_by_columns()
    cols = [Column(c.name, to_qualified_type(c), c.name in sorting) for c in meta.pk_columns]
    cols += [Column(c.name, to_qualified_type(c), False) for c in meta.simple_columns]
    if meta.version_column:
        cols.append(Column(meta.version_column, "UInt64", False))
    return cols


def columns_intersection(existing: list[Column], required: list[Column]) -> dict:
    """Reference ``getColumnsIntersections`` (jsonSchemaTranslator.ts:117-144)."""
    by_name_existing = {c.name: c for c in existing}
    by_name_required = {c.name: c for c in required}
    missing = [c for c in required if c.name not in by_name_existing]
    modified = [
        {"existing": e, "new": by_name_required[e.name]}
        for e in existing
        if e.name in by_name_required and by_name_required[e.name].type != e.type
    ]
    obsolete = [c for c in existing if c.name not in by_name_required]
    return {"missing": missing, "modified": modified, "obsolete": obsolete}


class PKConsistencyError(ValueError):
    pass


def check_primary_keys_consistency(existing: list[Column], meta: TableMeta) -> None:
    """Reference ``checkPrimaryKeysConsistency`` (jsonSchemaTranslator.ts:146-156):
    the incoming PK set must equal the table's sorting key."""
    table_pks = {c.name for c in existing if c.is_in_sorting_key}
    schema_pks = {c.prop for c in meta.pk_columns}
    added = schema_pks - table_pks
    removed = table_pks - schema_pks
    if added or removed:
        raise PKConsistencyError(
            "Could not update table because of key properties "
            f"(new: {sorted(added)}, removed: {sorted(removed)})"
        )
