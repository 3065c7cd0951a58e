"""The benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``prepare(dir)`` writes the seeded inputs under ``dir`` and builds any base
  state; ``run.py`` calls it several times and reports the median as part of
  ``setup_s``;
- ``warmup()`` runs one untimed operation so JIT and caches are warm;
- ``op()`` runs one operation of the closed loop (one client: the next
  operation starts only after the previous one, and its check, finished)
  and returns an ``Op`` record;
- ``check(op)`` compares the program's output with the independently
  computed expectation, outside the timed operation.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

import inputs
import reference

N_BUCKETS = 16


@dataclass
class Op:
    """One operation of the closed loop."""

    wall_s: float  # counted in the workload's throughput window
    events: int
    batch_s: list[float] = field(default_factory=list)
    run_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    stages: dict[str, float] = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


def _driver(spark, lake: str, log_dir: str, ckpt: str):
    from singer_target_clickhouse_spark.config import Config
    from singer_target_clickhouse_spark.streaming import StreamingDriver

    return StreamingDriver(spark, Config(lake_root=lake, n_buckets=N_BUCKETS), log_dir, ckpt,
                           max_files_per_trigger=1, offsets_in_log=True)


def _scan(spark, lake: str, table: str) -> float:
    """A consumer's full scan of the committed table to a no-op sink."""
    from singer_target_clickhouse_spark.lake.catalog import LakeCatalog

    t0 = time.perf_counter()
    LakeCatalog(lake, spark).read(table).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _log_files(log_dir: str) -> list[str]:
    return sorted(os.path.join(log_dir, f) for f in os.listdir(log_dir)
                  if not f.startswith((".", "_")) and not f.endswith(".crc"))


def _line_count(path: str) -> int:
    with open(path) as fh:
        return sum(1 for _ in fh)


def _stamp(files: list[str]) -> None:
    """Strictly increasing modification times in file order: the file
    source plans new files by modification time."""
    base = int(time.time()) - len(files) - 10
    for i, f in enumerate(files):
        os.utime(f, (base + i, base + i))


class _Ingest:
    """Shared state of the ingest workloads."""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.dir = ""
        self.n_rounds = 0

    def warmup(self) -> None:
        self.op()

    def unit_s(self, ops: list[Op]) -> list[float]:
        """Latencies of the unit of work behind ``op_s_p50``: micro-batches."""
        return [x for o in ops for x in o.batch_s]


# ------------------------------------------------------------- bulk_replay
class BulkReplay(_Ingest):
    """A backfill of the flat ``repo_files`` stream from an empty lake in
    large micro-batches. One operation is one whole backfill round (fresh
    lake and checkpoint, one ``run_available``)."""

    EVENTS, FILES = 30_000, 3
    N_REPOS, PATHS = 100, 100  # 10k keys: ~3 versions per key per round
    root_table = inputs.FLAT_STREAM

    def prepare(self, d: str) -> None:
        self.dir = d
        self.log_dir = inputs.flat_log(self.spark, os.path.join(d, "log"), self.EVENTS,
                                       self.FILES, self.seed, self.N_REPOS, self.PATHS)
        self.files = _log_files(self.log_dir)
        self.events = sum(_line_count(f) for f in self.files)
        self.expected = None
        self.lake = ""

    def op(self) -> Op:
        self.n_rounds += 1
        tag = f"round{self.n_rounds}"
        self.lake = os.path.join(self.dir, tag, "lake")
        drv = _driver(self.spark, self.lake, self.log_dir, os.path.join(self.dir, tag, "ckpt"))
        t0 = time.time()
        drv.run_available()
        t1 = time.time()
        first = drv.batch_phase_log[0]["wall_start"] if drv.batch_phase_log else t0
        read = _scan(self.spark, self.lake, self.root_table)
        return Op(wall_s=t1 - first, events=self.events, batch_s=list(drv.batch_times),
                  run_s=[t1 - t0], read_s=[read])

    def check(self, op: Op) -> list[str]:
        if self.expected is None:
            self.expected = reference.expected_tables(self.files)
        return reference.check_lake(self.lake, self.files, self.expected)


# ------------------------------------------------------- incremental_delta
class IncrementalDelta(_Ingest):
    """Scheduled incremental syncs against a built lake (set-up applies a
    base log of the same stream as one backfill run). Each operation
    publishes one small delta (SCHEMA, events over every bucket, STATE) and
    applies it with a fresh ``StreamingDriver(...).run_available()`` on the
    same lake and checkpoint, as a scheduled CLI run would; a consumer then
    scans the committed table before the next delta is published."""

    BASE_EVENTS, DELTA_EVENTS = 20_000, 2_000
    N_REPOS, PATHS = 100, 200
    WARMUP_DELTAS = 6
    root_table = inputs.FLAT_STREAM

    def prepare(self, d: str) -> None:
        self.dir = d
        self.log_dir = os.path.join(d, "log")
        os.makedirs(self.log_dir)
        base = os.path.join(self.log_dir, "base.txt")
        lines = inputs.flat_delta(self.seed, -1, 0, self.BASE_EVENTS, self.N_REPOS, self.PATHS)
        inputs.publish(base, lines)
        _stamp([base])
        self.files = [base]
        self.lake, self.ckpt = os.path.join(d, "lake"), os.path.join(d, "ckpt")
        _driver(self.spark, self.lake, self.log_dir, self.ckpt).run_available()
        self.next_seq = len(lines)
        self.n_deltas = 0

    def warmup(self) -> None:
        for _ in range(self.WARMUP_DELTAS):
            self.op()

    def op(self) -> Op:
        lines = inputs.flat_delta(self.seed, self.n_deltas, self.next_seq, self.DELTA_EVENTS,
                                  self.N_REPOS, self.PATHS)
        path = os.path.join(self.log_dir, f"delta-{self.n_deltas:05d}.txt")
        t0 = time.perf_counter()
        inputs.publish(path, lines)
        drv = _driver(self.spark, self.lake, self.log_dir, self.ckpt)
        drv.run_available()
        run = time.perf_counter() - t0
        self.files.append(path)
        self.n_deltas += 1
        self.next_seq += len(lines)
        read = _scan(self.spark, self.lake, self.root_table)
        return Op(wall_s=run, events=len(lines), batch_s=list(drv.batch_times), run_s=[run],
                  read_s=[read])

    def check(self, op: Op) -> list[str]:
        return reference.check_lake(self.lake, self.files)

    def unit_s(self, ops: list[Op]) -> list[float]:
        """Delta runs, publish to ``run_available`` return."""
        return [x for o in ops for x in o.run_s]


# ----------------------------------------------------- nested_multistream
class NestedMultistream(_Ingest):
    """Four streams, 20 tables, applied from an empty lake. One operation is
    one sync: a ``run_available`` over the data batches, then a closing run
    whose only message is ACTIVE_STREAMS (retiring ``audit``)."""

    BATCHES, RECORDS = 3, 1_500
    root_table = "orders"

    def prepare(self, d: str) -> None:
        self.dir = d
        self.batches = inputs.nested_batches(self.seed, self.BATCHES, self.RECORDS)
        self.expected = None
        self.lake = ""

    def op(self) -> Op:
        self.n_rounds += 1
        root = os.path.join(self.dir, f"round{self.n_rounds}")
        log_dir, ckpt = os.path.join(root, "log"), os.path.join(root, "ckpt")
        self.lake = os.path.join(root, "lake")
        os.makedirs(log_dir)
        self.files = [os.path.join(log_dir, f"part-{i:05d}.txt") for i in range(len(self.batches))]
        for f, lines in zip(self.files[:-1], self.batches[:-1]):
            inputs.publish(f, lines)
        _stamp(self.files[:-1])
        drv = _driver(self.spark, self.lake, log_dir, ckpt)
        t0 = time.time()
        drv.run_available()
        t1 = time.time()
        first = drv.batch_phase_log[0]["wall_start"] if drv.batch_phase_log else t0
        inputs.publish(self.files[-1], self.batches[-1])
        t2 = time.time()
        _driver(self.spark, self.lake, log_dir, ckpt).run_available()
        t3 = time.time()
        read = _scan(self.spark, self.lake, self.root_table)
        return Op(wall_s=(t1 - first) + (t3 - t2), events=sum(len(b) for b in self.batches),
                  batch_s=list(drv.batch_times), run_s=[t1 - t0, t3 - t2], read_s=[read])

    def check(self, op: Op) -> list[str]:
        if self.expected is None:
            self.expected = reference.expected_tables(self.files)
        return reference.check_lake(self.lake, self.files, self.expected)


# ------------------------------------------------------------ near_dup_ops
#: (stage, ``__spark_entry__`` query) in pass order.
CURATION = [("text_profile", "text_profile"), ("exact_dedup", "dedup_exact"),
            ("minhash_lsh", "dedup_minhash_lsh"), ("token_jaccard", "dedup_token_jaccard"),
            ("clusters", "dedup_clusters")]
ANN = [("ivf_topk", "ann_ivf_topk"), ("embedding_cosine", "dedup_embedding_cosine")]


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _normalize(rows, cols) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)


class NearDupOps:
    """The training-data operators of ``ops/`` over seeded ``documents`` and
    ``embeddings`` tables (1500 rows each, the id cap ``bench.py`` uses).
    One operation is one pass: the curation stages, then the ANN stages,
    each materialized on the driver. Nothing is written to a lake."""

    DOCS = VECS = 1500

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.tracer = None  # set for the traced half of a ``--trace 1`` run

    def prepare(self, d: str) -> None:
        self.sf = inputs.write_ops_tables(os.path.join(d, "sf"), self.seed, self.DOCS, self.VECS)
        self.expected = None

    def _oracle(self) -> dict[str, list[str]]:
        """``__spark_entry__.oracle_sql()`` results on the same tables."""
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect(config={"threads": 2})
        try:
            for t in ("documents", "embeddings"):
                con.sql(f"create view {t} as select * from '{self.sf}/{t}.parquet'")
            sql = entry.oracle_sql()
            out = {}
            for _stage, q in CURATION + ANN:
                res = con.sql(sql[q])
                out[q] = _normalize(res.fetchall(), [c[0] for c in res.description])
            return out
        finally:
            con.close()

    def warmup(self) -> None:
        # a full-size pass: after a pass over smaller tables the JIT was
        # still compiling through the first timed pass. The oracle (several
        # seconds of DuckDB) runs beside it so it never overlaps the window.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(self._oracle)
            self.op()
            self.expected = oracle.result()

    def _stage(self, stage: str, query) -> tuple[float, list, list[str]]:
        def run():
            df = query(self.spark, self.sf)
            return df.collect(), df.columns

        t0 = time.perf_counter()
        if self.tracer is not None:
            rows, cols = self.tracer.call("ops.stage", run)
        else:
            rows, cols = run()
        return time.perf_counter() - t0, rows, cols

    def op(self) -> Op:
        import __spark_entry__ as entry

        qs = entry.queries()
        stages, outputs = {}, {}
        for stage, q in CURATION + ANN:
            stages[stage], rows, cols = self._stage(stage, qs[q])
            outputs[q] = (rows, cols)
        return Op(wall_s=sum(stages.values()), events=self.DOCS + self.VECS,
                  stages=stages, outputs=outputs)

    def check(self, op: Op) -> list[str]:
        problems = []
        for q, (rows, cols) in op.outputs.items():
            if _normalize(rows, cols) != self.expected[q]:
                problems.append(f"{q}: output differs from oracle_sql ({len(rows)} rows vs "
                                f"{len(self.expected[q])} expected)")
        op.outputs = {q: len(rows) for q, (rows, _c) in op.outputs.items()}
        return problems

    def unit_s(self, ops: list[Op]) -> list[float]:
        """Whole passes."""
        return [o.wall_s for o in ops]


WORKLOADS = {
    "bulk_replay": BulkReplay,
    "incremental_delta": IncrementalDelta,
    "nested_multistream": NestedMultistream,
    "near_dup_ops": NearDupOps,
}
