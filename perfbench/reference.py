"""Correctness check that does not depend on engine code.

The expected lake is computed from the generated change log alone:

1. DuckDB reads the offset-prefixed JSONL files and keeps, per stream and
   primary key, the message with the highest offset (latest wins; a
   DELETED_RECORD is an ordered tombstone, so it removes older versions and
   loses to a later re-insert);
2. the surviving records are shredded by the documented table layout of the
   Singer target: nested objects flatten into ``a__b`` columns, an array
   becomes a child table ``parent__key`` with ``_root_<pk>`` columns and one
   ``_level_<n>_index`` per array level, an array of scalars has a single
   ``value`` column; children exist only for the surviving root version;
3. streams left out of the last ACTIVE_STREAMS message keep their tables
   under a ``_dropped_`` prefix.

The actual lake is read straight from its on-disk format: the table's
``_pointer.json`` names the current manifest, whose ``bucket_files`` list the
Parquet files, which DuckDB scans. Each table is compared as a multiset of
rows rendered as text. Version columns (``_ver``, ``_root_ver``) are left out:
which version survives is already pinned by the row contents, since every
generated version of a key differs.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

NULL = "\\N"
SEP = "\x1f"
DROPPED = "_dropped_"


# ------------------------------------------------------------ table layout
def _types(d: dict) -> list:
    t = d.get("type")
    return t if isinstance(t, list) else [t]


def layout(stream: str, schema: dict, keys: list[str]) -> dict[str, list[str]]:
    """Table name -> compared column names, in the target's layout."""
    tables: dict[str, list[str]] = {}

    def walk(name: str, node: dict, level: int, prefix: list[str]) -> list[str]:
        cols = []
        for k, d in node.get("properties", {}).items():
            if level == 0 and not prefix and k in keys:
                continue
            ts = _types(d)
            if "object" in ts:
                cols += walk(name, d, level, prefix + [k])
            elif "array" in ts:
                child(f"{name}__{'__'.join(prefix + [k])}", d.get("items", {}), level + 1)
            else:
                cols.append("__".join(prefix + [k]))
        return cols

    def child(name: str, items: dict, level: int) -> None:
        head = [f"_root_{k}" for k in keys] + [f"_level_{i}_index" for i in range(level)]
        if "object" in _types(items):
            tables[name] = head + walk(name, items, level, [])
        else:
            tables[name] = head + ["value"]

    tables[stream] = list(keys) + walk(stream, schema, 0, [])
    return tables


def _text(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def shred(stream: str, schema: dict, keys: list[str], record: dict) -> dict[str, list[tuple]]:
    """Rows (as text tuples, in ``layout`` column order) of one record."""
    out: dict[str, list[tuple]] = {}
    root_vals = [_text(record.get(k)) for k in keys]

    def flat(node: dict, value: dict, name: str, level: int, prefix: list[str],
             idx: list[int]) -> list[str]:
        cols = []
        for k, d in node.get("properties", {}).items():
            if level == 0 and not prefix and k in keys:
                continue
            v = (value or {}).get(k)
            ts = _types(d)
            if "object" in ts:
                cols += flat(d, v, name, level, prefix + [k], idx)
            elif "array" in ts:
                cname = f"{name}__{'__'.join(prefix + [k])}"
                items = d.get("items", {})
                for pos, elem in enumerate(v or []):
                    head = root_vals + [str(i) for i in idx + [pos]]
                    if "object" in _types(items):
                        row = head + flat(items, elem, cname, level + 1, [], idx + [pos])
                    else:
                        row = head + [_text(elem)]
                    out.setdefault(cname, []).append(tuple(row))
            else:
                cols.append(_text(v))
        return cols

    out[stream] = [tuple(root_vals + flat(schema, record, stream, 0, [], []))]
    return out


# ------------------------------------------------------------ expectation
def _log_sql(files: list[str]) -> str:
    lst = ", ".join("'" + f.replace("'", "''") + "'" for f in sorted(files))
    return (f"read_csv([{lst}], delim='\t', header=false, quote='', escape='', "
            "columns={'seq': 'BIGINT', 'msg': 'VARCHAR'})")


def expected_tables(files: list[str]) -> dict[str, tuple[list[str], Counter]]:
    """Table -> (compared columns, expected rows) after applying every
    message in ``files``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.sql(
            "create table ev as select seq, msg, (msg->>'$.type') as type, "
            f"(msg->>'$.stream') as stream, (msg->'$.record') as rec from {_log_sql(files)}"
        )
        schemas: dict[str, tuple[dict, list[str]]] = {}
        for (msg,) in con.sql(
            "select msg from ev where type = 'SCHEMA' order by seq"
        ).fetchall():
            m = json.loads(msg)
            schemas.setdefault(m["stream"], (m["schema"], m.get("key_properties") or []))
        active = con.sql(
            "select arg_max(msg, seq) from ev where type = 'ACTIVE_STREAMS'"
        ).fetchone()[0]
        tables: dict[str, tuple[list[str], Counter]] = {}
        for stream, (schema, keys) in sorted(schemas.items()):
            for t, cols in layout(stream, schema, keys).items():
                tables[t] = (cols, Counter())
            key_expr = "list_value(" + ", ".join(
                f"(rec->>'$.\"{k}\"')" for k in keys) + ")"
            rows = con.execute(
                f"""
                select arg_max(rec, seq) from ev
                where stream = ? and type in ('RECORD', 'DELETED_RECORD')
                group by {key_expr}
                having arg_max(type, seq) = 'RECORD'
                """,
                [stream],
            ).fetchall()
            for (rec,) in rows:
                for t, trs in shred(stream, schema, keys, json.loads(rec)).items():
                    tables[t][1].update(SEP.join(r) for r in trs)
        if active is not None:
            keep = json.loads(active).get("streams", [])
            for t in list(tables):
                if not any(t == s or t.startswith(s + "__") for s in keep):
                    tables[DROPPED + t] = tables.pop(t)
        return dict(sorted(tables.items()))
    finally:
        con.close()


# ------------------------------------------------------------- actual lake
def lake_tables(lake_root: str) -> dict[str, list[str]]:
    """Table name -> absolute Parquet files of its current snapshot."""
    tdir = os.path.join(lake_root, "tables")
    out = {}
    for name in sorted(os.listdir(tdir)):
        pointer = os.path.join(tdir, name, "_pointer.json")
        if not os.path.exists(pointer):
            continue
        with open(pointer) as fh:
            manifest = json.load(fh)["current"]
        with open(os.path.join(tdir, name, manifest)) as fh:
            snap = json.load(fh)
        out[name] = [os.path.join(tdir, name, f)
                     for fs in snap["bucket_files"].values() for f in fs]
    return out


def read_table(con, files: list[str], cols: list[str]) -> Counter:
    if not files:
        return Counter()
    lst = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    sel = ", ".join(f'coalesce(cast("{c}" as varchar), \'{NULL}\')' for c in cols)
    rows = con.sql(f"select {sel} from read_parquet([{lst}])").fetchall()
    return Counter(SEP.join(r) for r in rows)


def digest(rows: Counter) -> str:
    h = hashlib.sha256()
    for r in sorted(rows.elements()):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_lake(lake_root: str, log_files: list[str], want: dict | None = None) -> list[str]:
    """Problems found comparing the lake to the expectation for
    ``log_files`` (empty = ok). ``want`` is a cached ``expected_tables``."""
    import duckdb

    want = want or expected_tables(log_files)
    have_files = lake_tables(lake_root)
    problems = []
    if sorted(have_files) != sorted(want):
        problems.append(f"tables differ: lake {sorted(have_files)} vs expected {sorted(want)}")
    con = duckdb.connect()
    try:
        for t in sorted(set(want) & set(have_files)):
            try:
                have = read_table(con, have_files[t], want[t][0])
            except duckdb.Error as e:
                problems.append(f"{t}: unreadable ({str(e).splitlines()[0]})")
                continue
            if digest(have) != digest(want[t][1]):
                missing = sum((want[t][1] - have).values())
                extra = sum((have - want[t][1]).values())
                problems.append(f"{t}: digest mismatch ({missing} rows missing, {extra} unexpected)")
    finally:
        con.close()
    return problems


def footer_rows(paths: list[str]) -> int:
    """Rows in Parquet files, from their footers (no scan)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def table_rows(lake_root: str) -> dict[str, int]:
    """Row count per table of the current snapshots."""
    return {t: footer_rows(fs) for t, fs in lake_tables(lake_root).items()}
