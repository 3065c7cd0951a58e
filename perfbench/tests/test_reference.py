"""The lake check catches a wrong lake.

A lake that matches the reference passes; the same lake with one wrong row,
or with a deleted row brought back (a dropped tombstone), fails."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs
import reference


def _log(tmp_path, batches) -> list[str]:
    files = []
    os.makedirs(tmp_path / "log", exist_ok=True)
    for i, lines in enumerate(batches):
        f = str(tmp_path / "log" / f"part-{i:05d}.txt")
        inputs.publish(f, lines)
        files.append(f)
    return files


def _write_lake(root: str, tables: dict) -> None:
    """A lake in the on-disk format: pointer -> manifest -> Parquet files."""
    for name, (cols, rows) in tables.items():
        tdir = os.path.join(root, "tables", name)
        os.makedirs(os.path.join(tdir, "data"), exist_ok=True)
        split = [r.split(reference.SEP) for r in rows.elements()]
        data = {c: [None if r[i] == reference.NULL else r[i] for r in split]
                for i, c in enumerate(cols)}
        pq.write_table(pa.table(data, schema=pa.schema([(c, pa.string()) for c in cols])),
                       os.path.join(tdir, "data", "part-0.parquet"))
        with open(os.path.join(tdir, "snap-000001.json"), "w") as fh:
            json.dump({"bucket_files": {"0": ["data/part-0.parquet"]}}, fh)
        with open(os.path.join(tdir, "_pointer.json"), "w") as fh:
            json.dump({"current": "snap-000001.json"}, fh)


def _deleted_key(files):
    """(stream, record) of a key whose last message is a DELETED_RECORD,
    with the record of its last live version."""
    last, live = {}, {}
    for f in files:
        for line in open(f):
            msg = json.loads(line.split("\t", 1)[1])
            if msg["type"] not in ("RECORD", "DELETED_RECORD"):
                continue
            schema, keys = inputs.NESTED_STREAMS[msg["stream"]]
            k = (msg["stream"], tuple(msg["record"][p] for p in keys))
            last[k] = msg["type"]
            if msg["type"] == "RECORD":
                live[k] = msg["record"]
    return next((k[0], live[k]) for k, t in last.items() if t == "DELETED_RECORD" and k in live)


@pytest.fixture
def nested_lake(tmp_path):
    files = _log(tmp_path, inputs.nested_batches(3, 2, 300))
    want = reference.expected_tables(files)
    assert len(want) == 20 and any(t.startswith(reference.DROPPED) for t in want)
    lake = str(tmp_path / "lake")
    _write_lake(lake, want)
    return lake, files, want


def test_matching_lake_passes(nested_lake):
    lake, files, _ = nested_lake
    assert reference.check_lake(lake, files) == []


def test_one_wrong_row_fails(nested_lake, tmp_path):
    lake, files, want = nested_lake
    cols, rows = want["users__sessions__pages"]
    row = next(iter(rows))
    rows = rows.copy()
    rows[row] -= 1
    rows[row.replace("/p/", "/q/", 1)] += 1
    _write_lake(lake, {"users__sessions__pages": (cols, +rows)})
    problems = reference.check_lake(lake, files)
    assert len(problems) == 1 and problems[0].startswith("users__sessions__pages: digest mismatch")


def test_dropped_tombstone_fails(nested_lake):
    lake, files, want = nested_lake
    stream, record = _deleted_key(files)
    schema, keys = inputs.NESTED_STREAMS[stream]
    name = stream if stream != inputs.RETIRED_STREAM else reference.DROPPED + stream
    cols, rows = want[name]
    rows = rows.copy()
    rows.update(reference.SEP.join(r) for r in reference.shred(stream, schema, keys, record)[stream])
    _write_lake(lake, {name: (cols, rows)})
    problems = reference.check_lake(lake, files)
    assert problems == [f"{name}: digest mismatch (0 rows missing, 1 unexpected)"]


def test_engine_lake_passes_and_planted_row_fails(spark, tmp_path):
    """End to end: the engine's own lake passes; a row appended to one of
    its bucket files makes the check fail."""
    from singer_target_clickhouse_spark.config import Config
    from singer_target_clickhouse_spark.streaming import StreamingDriver

    files = _log(tmp_path, [inputs.flat_delta(5, -1, 0, 800, 10, 20),
                            inputs.flat_delta(5, 0, 802, 300, 10, 20)])
    for i, f in enumerate(files):
        os.utime(f, (1000 + i, 1000 + i))
    lake = str(tmp_path / "lake")
    StreamingDriver(spark, Config(lake_root=lake, n_buckets=4), str(tmp_path / "log"),
                    str(tmp_path / "ckpt"), max_files_per_trigger=1, offsets_in_log=True
                    ).run_available()
    assert reference.check_lake(lake, files) == []

    path = reference.lake_tables(lake)[inputs.FLAT_STREAM][0]
    t = pq.read_table(path)
    planted = t.slice(0, 1).set_column(
        t.schema.get_field_index("commit"), "commit", pa.array(["planted"], t.schema.field("commit").type))
    pq.write_table(pa.concat_tables([t, planted]), path)
    problems = reference.check_lake(lake, files)
    assert problems == [f"{inputs.FLAT_STREAM}: digest mismatch (0 rows missing, 1 unexpected)"]
