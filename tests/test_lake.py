"""Lake-level tests: vacuum GC and the latest-wins MERGE against a
pure-Python reference."""

import json
import os

from singer_target_clickhouse_spark.config import Config
from singer_target_clickhouse_spark.engine import SingerEngine

DATA = "/root/reference/tests/data"


def test_vacuum_reclaims_superseded_files(spark, tmp_path):
    lake = str(tmp_path / "lake")
    e1 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4))
    e1.run_file(f"{DATA}/stream_short.jsonl")
    e2 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4))
    e2.run_file(f"{DATA}/stream_short.jsonl")  # rewrite => superseded files

    tdir = os.path.join(lake, "tables", "tickets")
    def parquet_count():
        n = 0
        for _root, _dirs, files in os.walk(os.path.join(tdir, "data")):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    before_rows = e2.catalog.row_count("tickets")
    before_files = parquet_count()
    removed = e2.catalog.vacuum("tickets")
    assert removed["data_files"] > 0 and removed["manifests"] > 0
    assert parquet_count() == before_files - removed["data_files"]
    # current snapshot unaffected; a fresh engine still reads the table
    e3 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4))
    assert e3.catalog.row_count("tickets") == before_rows
    # referenced files all still exist
    snap = e3.catalog.snapshot("tickets")
    for f in snap.files():
        assert os.path.exists(os.path.join(tdir, f)), f


def test_vacuum_retain_last_keeps_previous_snapshot(spark, tmp_path):
    lake = str(tmp_path / "lakeR")
    e1 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4, vacuum_every_commits=0))
    e1.run_file(f"{DATA}/stream_short.jsonl")
    e2 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4, vacuum_every_commits=0))
    e2.run_file(f"{DATA}/stream_short.jsonl")
    cat = e2.catalog
    cur = cat.snapshot("tickets")
    tdir = os.path.join(lake, "tables", "tickets")
    prev_manifest = os.path.join(tdir, f"snap-{cur.snapshot_id - 1:06d}.json")
    with open(prev_manifest) as fh:
        prev = json.load(fh)
    cat.vacuum("tickets", retain_last=2)
    # previous snapshot's manifest AND files survive; reads still work
    assert os.path.exists(prev_manifest)
    for f in prev["bucket_files"].get("0", []):
        assert os.path.exists(os.path.join(tdir, f))
    assert cat.row_count("tickets") == 1
    # retain_last=1 then reclaims them
    cat.vacuum("tickets", retain_last=1)
    assert not os.path.exists(prev_manifest)
    assert cat.row_count("tickets") == 1


def test_auto_vacuum_bounds_storage(spark, tmp_path):
    # replaying many batches with auto-vacuum keeps on-disk parquet bounded
    # (without it, every merge strands a superseded file set per bucket)
    lake = str(tmp_path / "lakeAV")
    e = SingerEngine(spark, Config(lake_root=lake, n_buckets=2, vacuum_every_commits=2))
    schema = json.dumps({
        "type": "SCHEMA", "stream": "av", "schema": {"type": "object", "properties": {
            "id": {"type": "integer"}, "v": {"type": ["null", "integer"]}}},
        "key_properties": ["id"]})

    def batch(i):
        recs = [json.dumps({"type": "RECORD", "stream": "av",
                            "record": {"id": k, "v": i}}) for k in range(8)]
        lines = ([schema] if i == 0 else []) + recs
        base = i * 100
        return spark.createDataFrame(
            [(l, base + j) for j, l in enumerate(lines)], "value string, _seq long")

    for i in range(6):
        e.apply_lines(batch(i))

    def parquet_count():
        n = 0
        for _root, _dirs, files in os.walk(os.path.join(lake, "tables", "av")):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    # 6 merges over 2 buckets: unvacuumed would hold ~6 file generations;
    # retain_last=2 every 2 commits keeps at most ~3 generations on disk
    assert parquet_count() <= 3 * 2
    got = sorted((r["id"], r["v"]) for r in e.catalog.read("av").collect())
    assert got == [(k, 5) for k in range(8)]


def _latest_wins_reference(live, rows):
    """Brute-force ordered-tombstone latest-wins: per key the max-_ver row
    over the live table and the batch wins; a winning tombstone removes
    the key. live: {k: (v, _ver)}; rows: (k, v, _ver, is_tombstone)."""
    cand = {k: (v, ver, False) for k, (v, ver) in live.items()}
    for k, v, ver, ts in rows:
        if k not in cand or ver > cand[k][1]:
            cand[k] = (v, ver, ts)
    return {k: (v, ver) for k, (v, ver, ts) in cand.items() if not ts}


def test_merge_upsert_matches_latest_wins_reference(spark, tmp_path):
    # merge_upsert against a pure-Python latest-wins / ordered-tombstone
    # reference after every batch: inserts, updates, tombstones, a same-batch
    # record+tombstone sequence, null keys, and batch rows older than the
    # target row for the same key (the newer target row must survive).
    from pyspark.sql import types as T

    from singer_target_clickhouse_spark.lake import merge as M
    from singer_target_clickhouse_spark.lake.catalog import LakeCatalog

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.StringType()),
        T.StructField("_ver", T.LongType()),
    ])
    batches = [
        # inserts incl a null key, an in-batch update, and an in-batch
        # record-then-tombstone (tombstone wins: higher _ver)
        [("a", "1", 1, False), ("b", "1", 2, False), (None, "n", 3, False),
         ("a", "2", 4, False), ("c", "1", 5, False), ("c", None, 6, True)],
        # cross-batch update, tombstone of an old key, re-insert after
        # tombstone in the same batch, update of the null key
        [("b", "2", 11, False), ("a", None, 12, True), ("a", "3", 13, False),
         (None, "n2", 14, False), ("d", "1", 15, False)],
        # tombstone the null key; touch a single bucket only
        [(None, None, 21, True), ("d", "2", 22, False)],
        # stale versions: an update and a tombstone below the target _ver
        # lose to the target rows; a fresh key still inserts
        [("b", "stale", 7, False), ("d", None, 16, True), ("e", "1", 31, False)],
    ]

    cat = LakeCatalog(str(tmp_path / "lake"), spark)
    snap = cat.create_table(
        "t", schema=schema,
        ch_columns=[{"name": c, "type": "String", "is_in_sorting_key": c == "k"}
                    for c in ("k", "v")],
        pk=["k"], order_by=["k"], engine="replacing",
        bucket_by=["k"], n_buckets=4,
    )
    live: dict = {}
    for rows in batches:
        batch = spark.createDataFrame(rows, "k string, v string, _ver long, __ts boolean")
        snap = M.merge_upsert(cat, "t", batch, snap=snap, touched=cat.touched_buckets(batch, snap))
        cat.commit_snapshot("t", snap)
        live = _latest_wins_reference(live, rows)
        got = {r["k"]: (r["v"], r["_ver"]) for r in cat.read("t").collect()}
        assert cat.row_count("t") == len(got) == len(live)
        assert got == live
    assert live == {"a": ("3", 13), "b": ("2", 11), "d": ("2", 22), "e": ("1", 31)}
