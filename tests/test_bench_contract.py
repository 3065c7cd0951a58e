"""The traced benchmark (``perfbench/layers.py``) wraps engine, merge,
catalog, driver and ops entry points by name. Installing its tracer here
fails as soon as one of those names is renamed or deleted."""

import os

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_perfbench_tracer_installs_and_uninstalls(spark, monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import layers
    import spans

    from singer_target_clickhouse_spark.lake.catalog import LakeCatalog

    commit = LakeCatalog.__dict__["commit_snapshot"]
    tracer = spans.Tracer(spark)
    try:
        layers.install(tracer)
        assert tracer.enabled
        assert LakeCatalog.__dict__["commit_snapshot"] is not commit
    finally:
        tracer.uninstall()
    assert LakeCatalog.__dict__["commit_snapshot"] is commit


def test_perfbench_probes_see_merge_and_orphan_rows(spark, monkeypatch, tmp_path):
    # The upsert and orphan probes read ``snap`` and ``buckets`` from the
    # call's keywords and count rows over the merged buckets only. A
    # two-batch re-keyed po -> po__tags run must give them non-zero counts
    # (else merge.rewrite_amp and merge.orphan_yield read 0) restricted to
    # the touched buckets (else the keywords were dropped).
    monkeypatch.syspath_prepend(PERFBENCH)
    import json

    import layers
    import spans

    from singer_target_clickhouse_spark.config import Config
    from singer_target_clickhouse_spark.engine import SingerEngine

    schema = json.dumps({
        "type": "SCHEMA", "stream": "po", "key_properties": ["id"],
        "schema": {"type": "object", "properties": {
            "id": {"type": "integer"},
            "tags": {"type": "array", "items": {"type": "object", "properties": {
                "t": {"type": ["null", "string"]}}}}}}})

    def batch(head, ids, ver, base):
        recs = head + [json.dumps({"type": "RECORD", "stream": "po", "record": {
            "id": i, "tags": [{"t": f"v{ver}a{i}"}, {"t": f"v{ver}b{i}"}]}}) for i in ids]
        return spark.createDataFrame(
            [(v, base + j) for j, v in enumerate(recs)], "value string, _seq long")

    e = SingerEngine(spark, Config(lake_root=str(tmp_path / "lake"), n_buckets=4))
    tracer = spans.Tracer(spark)
    try:
        layers.install(tracer)
        e.apply_lines(batch([schema], range(8), 1, 0))
        e.apply_lines(batch([], [0], 2, 100))
    finally:
        tracer.uninstall()

    ups, orph = tracer.named("merge.merge_upsert"), tracer.named("merge.orphan_delete")
    assert any(s.info["rows_written"] > 0 for s in ups)
    assert any(s.info["rows_before"] > s.info["rows_after"] for s in orph)
    # batch 2 re-keys one root: both probes count that root's bucket only
    assert ups[-1].info["rows_written"] < e.catalog.row_count("po")
    assert orph[-1].info["rows_before"] - orph[-1].info["rows_after"] == 2
    assert orph[-1].info["rows_after"] < e.catalog.row_count("po__tags")
