"""Structured-Streaming CDC driver — reference ``processStream`` main loop
(``src/processStream.ts:126-168``) as a ``readStream`` + ``foreachBatch`` job.

The change log is a directory of JSONL files (a file-backed binlog). Each
micro-batch flows through ``SingerEngine.apply_lines``.

Exactly-once across restarts:

- Spark's checkpoint tracks which files belong to which ``batch_id``; a
  crashed batch is redelivered with the same content;
- a sidecar ``seq_base.json`` in the checkpoint dir records the global
  sequence base per ``batch_id`` *before* the apply, so a redelivered batch
  re-derives identical ``_seq`` values (and therefore identical ``_ver``);
- the engine's per-table ``last_applied_seq`` gate then makes the re-apply
  a no-op for tables that already committed.

Run-id is pinned to the checkpoint dir, so a restarted job continues the
same run (same version base) instead of re-basing like a fresh run would.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import Config
from ..engine import SingerEngine
from ..shred import SEQ_COL


class StreamingDriver:
    def __init__(
        self,
        spark: SparkSession,
        config: Config,
        input_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: Optional[int] = None,
        offsets_in_log: bool = False,
    ):
        """``offsets_in_log=True`` declares the log format carries its own
        offsets (lines are ``<seq>\\tmessage``, like a binlog position) —
        `_seq` is then recovered with a JVM-side split and no sidecar. Plain
        logs number their lines with ``with_line_offsets`` (one extra count
        job per batch) on top of a durable per-batch base."""
        self.spark = spark
        self.config = config
        self.input_dir = input_dir
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.offsets_in_log = offsets_in_log
        os.makedirs(checkpoint_dir, exist_ok=True)
        self.engine = SingerEngine(spark, config, run_id=self._pinned_run_id())
        from collections import deque

        from ..engine import PHASE_LOG_MAXLEN

        #: wall seconds per processed micro-batch (bench / scaling evidence).
        #: Bounded like engine.batch_phases (round-4 ADVICE): a long-lived
        #: streaming driver must not grow unbounded in-memory logs.
        self.batch_times: "deque[float]" = deque(maxlen=PHASE_LOG_MAXLEN)
        #: per-batch phase attribution: the engine's serial-window phases
        #: plus the streaming trigger overhead between batches
        #: (``trigger_gap`` = wall between previous batch end and this batch
        #: entering foreachBatch: source listing, offset/commit WAL writes)
        #: plus ABSOLUTE epoch timestamps ``wall_start``/``wall_end`` so an
        #: external capacity monitor can intersect batch windows with its
        #: probe samples directly instead of reconstructing them from
        #: subprocess launch time (round-4 ADVICE: the pre-first-batch
        #: startup window — imports, JVM, stream init — shifted every
        #: reconstructed window earlier, misaligning wave-hit flags).
        self.batch_phase_log: "deque[dict[str, float]]" = deque(maxlen=PHASE_LOG_MAXLEN)
        self._last_batch_end: float = 0.0

    # ------------------------------------------------------------- run-id pin
    def _pinned_run_id(self) -> str:
        path = os.path.join(self.checkpoint_dir, "run_id.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)["run_id"]
        import uuid

        run_id = uuid.uuid4().hex
        with open(path, "w") as fh:
            json.dump({"run_id": run_id}, fh)
        return run_id

    # ----------------------------------------------------------- seq recovery
    def _seq_base_for(self, batch_id: int, batch_count: int) -> int:
        """Durable, replay-stable sequence base per micro-batch."""
        path = os.path.join(self.checkpoint_dir, "seq_base.json")
        bases: dict[str, list[int]] = {}
        if os.path.exists(path):
            with open(path) as fh:
                bases = json.load(fh)
        key = str(batch_id)
        if key in bases:
            return bases[key][0]
        next_base = max((b + n for b, n in bases.values()), default=0)
        bases[key] = [next_base, batch_count]
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(bases, fh)
        os.replace(tmp, path)
        return next_base

    # ------------------------------------------------------------------ batch
    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        import time as _time

        t0 = _time.time()
        # identity of the last record, not deque length (round-5 ADVICE): the
        # phase log is a bounded deque, so once saturated its length stops
        # growing and a length comparison would report an empty phase dict for
        # every batch of exactly the long-lived drivers the bound targets
        prev_last = self.engine.batch_phases[-1] if self.engine.batch_phases else None
        try:
            self._apply_batch_inner(batch, batch_id)
        finally:
            end = _time.time()
            self.batch_times.append(end - t0)
            cur_last = self.engine.batch_phases[-1] if self.engine.batch_phases else None
            ph = dict(cur_last) if cur_last is not None and cur_last is not prev_last else {}
            ph["batch_total"] = end - t0
            ph["wall_start"] = t0
            ph["wall_end"] = end
            if self._last_batch_end:
                ph["trigger_gap"] = t0 - self._last_batch_end
            self._last_batch_end = end
            self.batch_phase_log.append(ph)

    def _apply_batch_inner(self, batch: DataFrame, batch_id: int) -> None:
        if self.offsets_in_log:
            # The log carries durable offsets (binlog style): recover
            # them JVM-side — no Python in the row path, replay-stable by
            # construction, no sidecar bookkeeping needed.
            split = F.split(F.col("value"), "\t", 2)
            lines = batch.select(
                F.element_at(split, 2).alias("value"),
                F.element_at(split, 1).cast("long").alias(SEQ_COL),
            )
            self.engine.apply_lines(lines)
            return
        # Plain logs: deterministic intra-batch order — the file source
        # redelivers an uncommitted batch with the identical file set
        # (checkpoint WAL), and partition planning over that set is
        # deterministic, so the JVM-side offset recovery reproduces identical
        # line numbers on replay (with_line_offsets: mono-id arithmetic + one
        # O(partitions) count job — no per-row Python, unlike zipWithIndex).
        from ..engine import with_line_offsets

        lines, n = with_line_offsets(batch)
        if n == 0:
            return
        base = self._seq_base_for(batch_id, n)
        lines = lines.withColumn(SEQ_COL, F.col(SEQ_COL) + F.lit(base))
        self.engine.apply_lines(lines)

    # ------------------------------------------------------------------- runs
    def run_available(self, finalize: bool = True) -> None:
        """Process everything currently in the directory, then stop
        (``trigger(availableNow)``) — the batch-replay mode of the reference
        CLI, but checkpointed and resumable."""
        reader = self.spark.readStream.format("text")
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        query = (
            reader.load(self.input_dir)
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if finalize:
            self.engine.finalize()
