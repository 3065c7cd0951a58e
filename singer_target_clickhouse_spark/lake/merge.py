"""Merge / delete operators over the lake — the reference's category-D ops
(``SURVEY.md §2 D1-D7``) re-expressed as bucket-pruned DataFrame plans.

Scale notes (the 100 TB story):

- every operator prunes to the buckets its keys touch before reading the
  target, so cost scales with batch size, not table size;
- the latest-wins dedup is a ``max_by`` aggregate, which Spark plans as a
  partial and a final ``SortAggregate`` (the struct buffer rules out the
  hash aggregate). The partial step collapses hot keys **map-side**, so a
  hot (repo, path) receiving millions of updates in one batch reduces to one
  row per input partition before the exchange — no single task ever sees
  the full hot-key row set. This is the skew defense (an explicit salted
  two-phase reduce is unnecessary because partial agg IS the salted phase,
  with salt = input partition). ``merge_upsert`` runs that partial combine
  on the batch rows only; the lake rows cross exactly one exchange.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .catalog import LakeCatalog, TableSnapshot


def latest_wins(df: DataFrame, pk: list[str], ver_col: str = "_ver") -> DataFrame:
    """ReplacingMergeTree collapse: keep the max-`_ver` row per key
    (reference engine semantics, ``jsonSchemaTranslator.ts:36`` +
    ``OPTIMIZE FINAL`` at ``StreamProcessor.ts:108``). Ties cannot occur
    because `_ver` is unique per record (derived from the source offset).

    Plan shape: ``groupBy(pk).agg(max_by(struct(<non-key cols>), _ver))``
    instead of a per-key ``row_number()`` window. The window form re-shuffles
    every row by pk and sorts inside each partition — a hot key lands on one
    task. ``max_by`` plans as partial + final ``SortAggregate``: the partial
    (map-side) step emits at most one candidate row per key and input
    partition, so the exchange carries O(keys), not O(rows), and skew
    disappears. When the input is already hash-partitioned on some of the
    ``pk`` columns, the planner adds no exchange at all."""
    others = [c for c in df.columns if c not in pk]
    packed = df.groupBy(*pk).agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), F.col(ver_col)).alias("__top")
    )
    return packed.select(*pk, *[F.col("__top").getField(c).alias(c) for c in others])


def merge_upsert(
    catalog: LakeCatalog,
    name: str,
    batch: DataFrame,
    snap: TableSnapshot,
    touched: list[int],
) -> TableSnapshot:
    """MERGE INTO … WHEN MATCHED AND s._ver > t._ver THEN UPDATE/DELETE,
    over the ``touched`` buckets only (every bucket a batch key hashes to,
    or a superset).

    The batch must carry the full table schema (pks, simple cols, `_ver`),
    plus a boolean ``__ts`` tombstone flag: DELETED_RECORD events enter
    the same versioned merge as tombstone rows, so a delete at offset k kills
    exactly the versions below k and a later re-insert survives — strictly
    ordered CDC semantics (the reference applies buffered DELETEs at commit
    time, which can drop a re-insert landing in the same commit window;
    replay convergence per BASELINE.json requires the ordered form).

    One plan, for any batch size and any versions::

        both   = target(touched buckets) ∪ latest_wins(batch)
        merged = latest_wins(both.repartition(_bucket), [_bucket, *pk])

    The inner ``latest_wins`` is the skew defense on O(batch) rows. The
    repartition on the bucket id is the only exchange the lake rows cross:
    it already meets the outer aggregate's clustering on (_bucket, pk), and
    ``_write_bucketed`` reuses the ``_bucket`` column, so its own
    repartition on it is the same partitioning and the planner drops it.
    Each touched bucket is still written by one task, one file per commit.
    The outer aggregate keeps the max-``_ver`` row over target ∪ batch, so a
    stale batch row never replaces a newer target row.

    Returns the updated (uncommitted) snapshot.
    """
    assert snap.engine == "replacing", f"{name} is not a replacing table"
    batch = batch.select(*[f.name for f in snap.spark_schema.fields], "__ts")
    if not touched:
        return snap
    target = catalog.read(name, buckets=touched, snap=snap).withColumn("__ts", F.lit(False))
    both = target.unionByName(latest_wins(batch, snap.pk, "_ver"))
    both = both.withColumn(
        "_bucket", LakeCatalog.bucket_expr(snap.bucket_by, snap.n_buckets)
    ).repartition("_bucket")
    merged = latest_wins(both, ["_bucket", *snap.pk], "_ver")
    merged = merged.where(~F.col("__ts")).drop("__ts")
    return catalog.overwrite_buckets(name, merged, touched, snap)


def append_rows(catalog: LakeCatalog, name: str, batch: DataFrame, snap: TableSnapshot) -> TableSnapshot:
    """Plain-MergeTree ingestion: append files, no dedup (children + no-PK
    roots; reference ``RecordProcessor.ts:166``)."""
    cols = [f.name for f in snap.spark_schema.fields]
    return catalog.append(name, batch.select(*cols), snap)


def delete_where(catalog: LakeCatalog, name: str, condition, snap: TableSnapshot) -> TableSnapshot:
    """DELETE WHERE <condition> (reference D5 cleaning-column wipe,
    ``StreamProcessor.ts:121-146``). Not key-pruned — the predicate may touch
    any bucket — so this rewrites the full table; the engine bounds how often
    it runs (once per new cleaning value per run, like the reference)."""
    target = catalog.read(name, snap=snap)
    return catalog.overwrite_all(name, target.where(~condition), snap)


def orphan_delete(
    catalog: LakeCatalog,
    child_name: str,
    root_df: DataFrame,
    root_pk: list[str],
    child_root_cols: list[str],
    buckets: Optional[list[int]] = None,
) -> TableSnapshot:
    """Child-orphan delete (reference D3, ``StreamProcessor.ts:148-169``):
    drop child rows whose (root-key…, _root_ver) has no surviving root row.

    Children are bucketed on their ``_root_*`` columns with the same hash as
    the root's PK bucketing, so when ``buckets`` (the root buckets touched
    this batch) is given, only those child buckets are read and rewritten and
    ``root_df`` can be pre-restricted to the same buckets by the caller.
    Returns the child's updated (uncommitted) snapshot.
    """
    snap = catalog.snapshot(child_name)
    child = catalog.read(child_name, buckets=buckets, snap=snap)
    surviving = root_df.select(
        *[F.col(p).alias(c) for p, c in zip(root_pk, child_root_cols)],
        F.col("_ver").alias("_root_ver"),
    )
    kept = child.join(surviving, on=child_root_cols + ["_root_ver"], how="left_semi")
    if buckets is not None:
        return catalog.overwrite_buckets(child_name, kept, buckets, snap)
    return catalog.overwrite_all(child_name, kept, snap)


class PKIntegrityError(RuntimeError):
    pass


def assert_pk_integrity(catalog: LakeCatalog, name: str, keys: list[str]) -> None:
    """Post-merge duplicate-key assertion (reference D7,
    ``StreamProcessor.ts:176-193``, the ``neighbor()`` trick ≙ group-count)
    over ``keys``, the table's full key set (reference asserts on all
    pkMappings: root + parent + current + level)."""
    dup = (
        catalog.read(name)
        .groupBy(*keys)
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise PKIntegrityError(f"Duplicate key on table {name}, data: {dup[0].asDict()}")
