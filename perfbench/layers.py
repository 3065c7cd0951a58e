"""Which entry points the traced run wraps, and the per-layer metrics
computed from the spans and the Spark event log.

Per-layer metrics are defined in README.md. Timings are medians over the
calls (or batches, or runs) of the traced window; Spark figures are per
operation of the workload. A layer a workload never calls reports 0.
"""

from __future__ import annotations

import os
import statistics

from reference import footer_rows
from spans import Span, Tracer, self_time

LAYERS = ("driver", "engine", "shred", "merge", "catalog", "ops")
SPARK_FIELDS = ("cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "tasks")
OPS_STAGES = ("text_profile", "minhash_lsh", "token_jaccard", "clusters", "ivf_topk",
              "embedding_cosine")


def _table_paths(catalog, name: str, files: list[str]) -> list[str]:
    tdir = os.path.join(catalog.root, "tables", name)
    return [os.path.join(tdir, f) for f in files]


def install(tracer: Tracer) -> None:
    """Wrap every traced entry point at the name its caller resolves."""
    from singer_target_clickhouse_spark import engine
    from singer_target_clickhouse_spark.lake import merge
    from singer_target_clickhouse_spark.lake.catalog import LakeCatalog
    from singer_target_clickhouse_spark.ops import dedup, similarity, text
    from singer_target_clickhouse_spark.streaming import driver

    snapshot = LakeCatalog.snapshot  # untraced: probes must not add spans

    def upsert_probe(args, kwargs):
        # merge_upsert rewrites the snapshot it is given in place: remember
        # its files, then count the rows of the files the merge wrote from
        # their footers (no Spark job)
        cat, name = args[0], args[1]
        before = set(kwargs["snap"].files()) if kwargs.get("snap") else set()
        return lambda snap: {"rows_written": footer_rows(
            _table_paths(cat, name, [f for f in snap.files() if f not in before]))}

    def orphan_probe(args, kwargs):
        cat, child, buckets = args[0], args[1], kwargs.get("buckets")
        before = footer_rows(_table_paths(cat, child, snapshot(cat, child).files(buckets)))
        return lambda snap: {"rows_before": before, "rows_after": footer_rows(
            _table_paths(cat, child, snap.files(buckets)))}

    tracer.wrap(driver.StreamingDriver, "run_available", "driver.run_available")
    tracer.wrap(engine.SingerEngine, "apply_lines", "engine.apply_lines")
    tracer.wrap(engine.SingerEngine, "finalize", "engine.finalize")
    tracer.wrap(engine, "shred_stream", "shred.shred_stream")
    tracer.wrap(merge, "merge_upsert", "merge.merge_upsert", upsert_probe)
    tracer.wrap(merge, "append_rows", "merge.append_rows")
    tracer.wrap(merge, "orphan_delete", "merge.orphan_delete", orphan_probe)
    tracer.wrap(merge, "assert_pk_integrity", "merge.assert_pk_integrity")
    tracer.wrap(LakeCatalog, "commit_snapshot", "catalog.commit_snapshot")
    tracer.wrap(LakeCatalog, "snapshot", "catalog.snapshot")
    tracer.wrap(LakeCatalog, "vacuum", "catalog.vacuum",
                lambda a, k: lambda r: {"files_removed": r.get("data_files", 0)})
    tracer.wrap(LakeCatalog, "touched_buckets", "catalog.touched_buckets")
    tracer.wrap(LakeCatalog, "read", "catalog.read")
    for mod, fns in ((text, ["analyze"]),
                     (dedup, ["minhash_lsh_pairs", "token_jaccard_pairs", "dedup_clusters"]),
                     (similarity, ["ivf_topk", "cosine_pairs_lsh"])):
        for fn in fns:
            tracer.wrap(mod, fn, f"ops.{fn}")
    tracer.enabled = True


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer: Tracer, jobs: dict[int, dict], n_ops: int, events: int,
              stages: dict[str, list[float]], outputs: dict[str, list[int]],
              lake_stats: dict) -> dict[str, float]:
    """Per-layer metrics of the traced window."""
    kids = tracer.children()
    by_span = tracer.jobs_by_span(jobs)
    spans = {s.id: s for s in tracer.spans}
    named = tracer.named
    m: dict[str, float] = {}

    runs = named("driver.run_available")
    batches = named("engine.apply_lines")
    # runs: first batch start - run start; gaps between batches of one run
    starts, gaps = [], []
    for r in runs:
        bs = sorted((b for b in tracer.subtree(r, kids) if b.name == "engine.apply_lines"),
                    key=lambda b: b.start)
        if bs:
            starts.append(bs[0].start - r.start)
        gaps += [b2.start - b1.end for b1, b2 in zip(bs, bs[1:])]
    m["driver.run_start_s"] = _med(starts)
    m["driver.trigger_gap_s"] = _med(gaps)

    m["engine.batch_self_s"] = _med(self_time(b, kids.get(b.id, [])) for b in batches)
    sub = {b.id: tracer.subtree(b, kids) for b in batches}
    m["engine.jobs_per_batch"] = _med(sum(len(by_span.get(s.id, [])) for s in sub[b.id])
                                      for b in batches)
    m["engine.finalize_s"] = _med(s.duration for s in named("engine.finalize"))

    shred = named("shred.shred_stream")
    m["shred.plan_s"] = _med(sum(s.duration for s in sub[b.id] if s.name == "shred.shred_stream")
                             for b in batches) if shred else 0.0
    m["shred.child_rows_per_record"] = lake_stats.get("child_rows_per_record", 0.0)

    ups = named("merge.merge_upsert")
    m["merge.upsert_s"] = _med(s.duration for s in ups)
    written = sum(s.info.get("rows_written", 0) for s in ups)
    m["merge.rewrite_amp"] = written / events if events and ups else 0.0
    m["merge.append_s"] = _med(s.duration for s in named("merge.append_rows"))
    orph = named("merge.orphan_delete")
    m["merge.orphan_delete_s"] = _med(s.duration for s in orph)
    read = sum(s.info.get("rows_before", 0) for s in orph)
    removed = sum(s.info.get("rows_before", 0) - s.info.get("rows_after", 0) for s in orph)
    m["merge.orphan_yield"] = removed / read if read else 0.0
    m["merge.pk_check_s"] = _med(s.duration for s in named("merge.assert_pk_integrity"))

    m["catalog.commit_s"] = _med(s.duration for s in named("catalog.commit_snapshot"))
    m["catalog.commits_per_batch"] = _med(
        sum(1 for s in sub[b.id] if s.name == "catalog.commit_snapshot") for b in batches)
    m["catalog.snapshot_reads_per_batch"] = _med(
        sum(1 for s in sub[b.id] if s.name == "catalog.snapshot") for b in batches)
    m["catalog.touched_bucket_jobs"] = _med(
        sum(1 for s in tracer.subtree(r, kids) if s.name == "catalog.touched_buckets")
        for r in runs)
    vac = named("catalog.vacuum")
    m["catalog.vacuum_s"] = _med(s.duration for s in vac)
    m["catalog.vacuum_files_removed"] = _med(
        sum(s.info.get("files_removed", 0) for s in tracer.subtree(r, kids)
            if s.name == "catalog.vacuum") for r in runs)
    m["catalog.files_per_bucket"] = lake_stats.get("files_per_bucket", 0.0)
    m["catalog.read_s"] = _med(s.duration for s in named("catalog.read"))
    out_bytes = sum(j["output_bytes"] for j in jobs.values())
    m["catalog.bytes_written_per_event"] = out_bytes / events if events and batches else 0.0

    for st in OPS_STAGES:
        m[f"ops.{st}_s"] = _med(stages.get(st, []))
    clus = named("ops.dedup_clusters")
    m["ops.clusters_jobs"] = _med(
        sum(len(by_span.get(s.id, [])) for s in tracer.subtree(c, kids)) for c in clus)
    cand = outputs.get("dedup_minhash_lsh", [])
    m["ops.lsh_candidates"] = _med(cand)
    m["ops.embedding_pairs"] = _med(outputs.get("dedup_embedding_cosine", []))
    ver = outputs.get("dedup_token_jaccard", [])
    m["ops.verify_yield"] = _med(v / c for v, c in zip(ver, cand) if c)

    # Spark task metrics of the jobs each layer's spans started, per op
    totals = {(layer, f): 0.0 for layer in LAYERS for f in SPARK_FIELDS}
    for sid, js in by_span.items():
        span = spans.get(sid)
        layer = _layer_of(span)
        if layer is None:
            continue
        for j in js:
            for f in SPARK_FIELDS:
                totals[(layer, f)] += j[f]
    for (layer, f), v in totals.items():
        m[f"{layer}.{f}"] = v / n_ops if n_ops else 0.0
    return m


def _layer_of(span: Span | None) -> str | None:
    if span is None:
        return None
    if span.name == "ops.stage":
        return "ops"
    layer = span.name.split(".", 1)[0]
    return layer if layer in LAYERS else None
