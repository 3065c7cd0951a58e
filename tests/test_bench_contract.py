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
