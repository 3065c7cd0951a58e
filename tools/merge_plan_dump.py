"""Print the physical plan of the engine's root-merge write for a steady
replacing batch (10 updates + 1 DELETED_RECORD over a 10-row, 4-bucket
lake), with AQE off and on, plus the Spark job count of that batch.

The plan is the one ``DataFrameWriter.parquet`` receives from
``LakeCatalog._write_bucketed``, before execution (with AQE on: the initial
adaptive plan, after EnsureRequirements).

Usage: python tools/merge_plan_dump.py [checkout_dir]
(``checkout_dir`` defaults to this repository; pass another checkout to dump
its plan with the same input.)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.abspath(ROOT))

from pyspark.sql import DataFrameWriter, SparkSession  # noqa: E402

from singer_target_clickhouse_spark.config import Config  # noqa: E402
from singer_target_clickhouse_spark.engine import SingerEngine  # noqa: E402


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    plans: list[str] = []
    write = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return write(self, path, *args, **kwargs)

    DataFrameWriter.parquet = capture

    def lines(msgs, base):
        return spark.createDataFrame(
            [(json.dumps(m), base + j) for j, m in enumerate(msgs)], "value string, _seq long"
        )

    schema = {"type": "SCHEMA", "stream": "jc", "key_properties": ["id"],
              "schema": {"type": "object", "properties": {
                  "id": {"type": "integer"}, "v": {"type": ["null", "integer"]}}}}
    first = [schema] + [{"type": "RECORD", "stream": "jc", "record": {"id": i, "v": 1}}
                        for i in range(10)]
    steady = [{"type": "RECORD", "stream": "jc", "record": {"id": i, "v": 2}} for i in range(10)]
    steady.append({"type": "DELETED_RECORD", "stream": "jc", "record": {"id": 3}})

    sc = spark.sparkContext
    for aqe in ("false", "true"):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        with tempfile.TemporaryDirectory() as lake:
            e = SingerEngine(spark, Config(lake_root=lake, n_buckets=4))
            e.apply_lines(lines(first, 0))
            plans.clear()
            sc.setJobGroup(f"steady-aqe-{aqe}", "merge plan dump", False)
            e.apply_lines(lines(steady, 100))
            jobs = len(sc.statusTracker().getJobIdsForGroup(f"steady-aqe-{aqe}"))
            sc.setJobGroup("", "", False)
            print(f"== spark.sql.adaptive.enabled={aqe}: {jobs} Spark jobs in the steady batch ==")
            print(plans[-1])
    spark.stop()


if __name__ == "__main__":
    main()
