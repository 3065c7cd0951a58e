"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the same
bytes, another seed gives other bytes. The program under test only ever sees
the files these functions write.

- ``flat_log``: the ``repo_files`` backfill log, built with the engine's own
  ``gen.change_events_df`` shape (hot repos, many versions per key, ~1%
  deletes) and written as an offset-bearing JSONL change log.
- ``flat_delta``: one scheduled incremental run of the same stream: SCHEMA,
  a few thousand RECORD / DELETED_RECORD events over the whole key space and
  a STATE message, with offsets continuing the log before it.
- ``nested_batches``: four streams with nested objects (flattened into
  columns) and arrays of objects up to three deep, 20 tables in all. Updates
  hit existing roots, every batch ends with STATE and a closing
  ACTIVE_STREAMS batch retires the ``audit`` stream.
- ``documents`` / ``embeddings``: the ``documents`` and ``embeddings``
  Parquet tables the ``ops/`` queries read.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

FLAT_STREAM = "repo_files"
FLAT_KEYS = ["repo", "path"]
_LANGS = ["py", "ts", "go", "rs", "java", "c", "md", "sql"]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def publish(path: str, lines: list[str]) -> None:
    """Write a change-log file atomically (temp name, then rename), so a
    directory-tailing reader never sees it half written."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


# ------------------------------------------------------------- flat stream
def flat_log(spark, out_dir: str, n_events: int, n_files: int, seed: int,
             n_repos: int, paths_per_repo: int) -> str:
    """Backfill log of ``n_events`` events (+ SCHEMA at offset 0) in
    ``n_files`` offset-ordered files."""
    from singer_target_clickhouse_spark.gen import change_events_df, write_jsonl

    events = change_events_df(spark, n_events, n_repos=n_repos,
                              paths_per_repo=paths_per_repo, seed=seed)
    return write_jsonl(events, out_dir, n_files=n_files, with_offsets=True)


def flat_schema_message() -> dict:
    from singer_target_clickhouse_spark.gen import REPO_SCHEMA_MESSAGE

    return REPO_SCHEMA_MESSAGE


def flat_delta(seed: int, index: int, first_seq: int, n_events: int,
               n_repos: int, paths_per_repo: int) -> list[str]:
    """One incremental run's change-log lines, offsets from ``first_seq``.
    Keys are uniform over the whole key space, so every bucket is touched;
    about 3% of events are deletes. ``index`` -1 is the base log the
    deltas continue."""
    rng = random.Random(f"delta:{seed}:{index}")
    lines = [f"{first_seq}\t{json.dumps(flat_schema_message())}"]
    seq = first_seq
    for _ in range(n_events):
        seq += 1
        repo = f"repo_{rng.randrange(n_repos)}"
        p = rng.randrange(paths_per_repo)
        lang = _LANGS[p % len(_LANGS)]
        path = f"src/dir_{p % 50}/file_{p}.{lang}"
        if rng.random() < 0.03:
            msg = {"type": "DELETED_RECORD", "stream": FLAT_STREAM,
                   "record": {"repo": repo, "path": path}}
        else:
            msg = {"type": "RECORD", "stream": FLAT_STREAM, "record": {
                "repo": repo, "path": path, "commit": _md5(f"d{seed}:{seq}"),
                "lang": lang if rng.random() < 0.9 else None,
                "content": "line-" + _md5(f"{seq}:content")}}
        lines.append(f"{seq}\t{json.dumps(msg)}")
    seq += 1
    state = {"type": "STATE", "value": {"bookmarks": {FLAT_STREAM: {"delta": index, "seq": seq}}}}
    lines.append(f"{seq}\t{json.dumps(state)}")
    return lines


# ---------------------------------------------------------- nested streams
_S = {"type": "string"}
_NS = {"type": ["null", "string"]}
_I = {"type": "integer"}


def _arr(items: dict) -> dict:
    return {"type": ["null", "array"], "items": items}


def _obj(**props) -> dict:
    return {"type": "object", "properties": props}


#: stream -> (JSON Schema, key properties). 6 + 6 + 5 + 3 = 20 tables.
NESTED_STREAMS: dict[str, tuple[dict, list[str]]] = {
    "orders": (_obj(
        id=_I, status=_S, total=_I,
        customer=_obj(name=_S, address=_obj(city=_S, zip=_NS)),
        lines=_arr(_obj(sku=_S, qty=_I, discounts=_arr(_obj(code=_S, pct=_I, tags=_arr(_S))))),
        events=_arr(_obj(kind=_S, at=_I)),
        notes=_arr(_S),
    ), ["id"]),
    "users": (_obj(
        id=_I, name=_S, profile=_obj(tier=_S, score=_I),
        addresses=_arr(_obj(kind=_S, city=_S, phones=_arr(_obj(kind=_S, number=_S)))),
        roles=_arr(_S),
        sessions=_arr(_obj(sid=_S, device=_NS, pages=_arr(_obj(url=_S, ms=_I)))),
    ), ["id"]),
    "repos": (_obj(
        owner=_S, name=_S, stars=_I, meta=_obj(license=_NS, lang=_S),
        topics=_arr(_S),
        releases=_arr(_obj(tag=_S, assets=_arr(_obj(fname=_S, size=_I, labels=_arr(_S))))),
    ), ["owner", "name"]),
    "audit": (_obj(
        id=_I, actor=_S,
        entries=_arr(_obj(op=_S, fields=_arr(_S))),
    ), ["id"]),
}
RETIRED_STREAM = "audit"
NESTED_KEYSPACE = {"orders": 400, "users": 300, "repos": 200, "audit": 150}


def _nested_record(stream: str, key: int, ev: int, rng: random.Random) -> dict:
    """One record; every value carries the event id so each version of a
    key differs from the others, children included."""
    def n(lo, hi):
        return rng.randint(lo, hi)

    w = f"e{ev}"
    if stream == "orders":
        return {
            "id": key, "status": rng.choice(["new", "paid", "shipped"]), "total": n(1, 10**6),
            "customer": {"name": f"cust-{key}-{w}",
                         "address": {"city": f"city-{n(0, 40)}",
                                     "zip": None if rng.random() < 0.2 else f"z{n(1000, 9999)}"}},
            "lines": [{"sku": f"sku-{n(0, 999)}-{w}", "qty": n(1, 9),
                       "discounts": [{"code": f"D{n(0, 99)}", "pct": n(1, 50),
                                      "tags": [f"t{n(0, 20)}" for _ in range(n(0, 2))]}
                                     for _ in range(n(0, 2))]}
                      for _ in range(n(0, 3))],
            "events": [{"kind": rng.choice(["view", "edit", "pay"]), "at": ev * 10 + i}
                       for i in range(n(0, 3))],
            "notes": [f"note-{w}-{i}" for i in range(n(0, 2))],
        }
    if stream == "users":
        return {
            "id": key, "name": f"user-{key}-{w}", "profile": {"tier": rng.choice("abc"), "score": n(0, 100)},
            "addresses": [{"kind": rng.choice(["home", "work"]), "city": f"city-{n(0, 40)}-{w}",
                           "phones": [{"kind": "m", "number": f"+{n(10**6, 10**7)}"} for _ in range(n(0, 2))]}
                          for _ in range(n(0, 2))],
            "roles": [rng.choice(["admin", "dev", "ops", "qa"]) for _ in range(n(0, 3))],
            "sessions": [{"sid": f"s-{w}-{i}", "device": None if rng.random() < 0.3 else "web",
                          "pages": [{"url": f"/p/{n(0, 99)}", "ms": n(1, 5000)} for _ in range(n(0, 3))]}
                         for i in range(n(0, 2))],
        }
    if stream == "repos":
        return {
            "owner": f"org{key % 17}", "name": f"repo{key}", "stars": n(0, 10**5),
            "meta": {"license": rng.choice([None, "mit", "apache-2.0"]), "lang": rng.choice(_LANGS)},
            "topics": [f"topic-{n(0, 30)}" for _ in range(n(0, 3))],
            "releases": [{"tag": f"v{n(0, 9)}.{i}-{w}",
                          "assets": [{"fname": f"a{j}.tgz", "size": n(1, 10**7),
                                      "labels": [f"l{n(0, 9)}" for _ in range(n(0, 2))]}
                                     for j in range(n(0, 2))]}
                         for i in range(n(0, 2))],
        }
    return {
        "id": key, "actor": f"actor-{n(0, 50)}-{w}",
        "entries": [{"op": rng.choice(["c", "u", "d"]), "fields": [f"f{n(0, 30)}" for _ in range(n(0, 3))]}
                    for _ in range(n(0, 3))],
    }


def nested_key_record(stream: str, key: int) -> dict:
    """The key fields of ``key`` as a DELETED_RECORD payload."""
    if stream == "repos":
        return {"owner": f"org{key % 17}", "name": f"repo{key}"}
    return {"id": key}


def nested_batches(seed: int, n_batches: int, records_per_batch: int) -> list[list[str]]:
    """Change-log lines per micro-batch for the nested multi-stream sync.
    Batch 0 opens with the four SCHEMA messages and every data batch closes
    with a STATE message. About 4% of events are deletes; the rest are
    upserts over a small key space, so most records replace an existing root.

    The sync ends with one more batch holding only ACTIVE_STREAMS, which
    retires ``audit``. It is published as a run of its own: retiring a stream
    inside a run whose batches also wrote it makes the engine's ``finalize``
    check the renamed table and fail."""
    rng = random.Random(f"nested:{seed}")
    streams = sorted(NESTED_STREAMS)
    seq = -1
    out = []
    for b in range(n_batches):
        lines = []
        if b == 0:
            for s in streams:
                schema, keys = NESTED_STREAMS[s]
                seq += 1
                msg = {"type": "SCHEMA", "stream": s, "schema": schema, "key_properties": keys}
                lines.append(f"{seq}\t{json.dumps(msg)}")
        for _ in range(records_per_batch):
            seq += 1
            s = rng.choice(streams)
            key = rng.randrange(NESTED_KEYSPACE[s])
            if rng.random() < 0.04:
                msg = {"type": "DELETED_RECORD", "stream": s, "record": nested_key_record(s, key)}
            else:
                msg = {"type": "RECORD", "stream": s, "record": _nested_record(s, key, seq, rng)}
            lines.append(f"{seq}\t{json.dumps(msg)}")
        seq += 1
        lines.append(f"{seq}\t{json.dumps({'type': 'STATE', 'value': {'batch': b, 'seq': seq}})}")
        out.append(lines)
    active = [s for s in streams if s != RETIRED_STREAM]
    out.append([f"{seq + 1}\t{json.dumps({'type': 'ACTIVE_STREAMS', 'streams': active})}"])
    return out


# ------------------------------------------------------ ops input tables
_VOCAB = [f"w{i}" for i in range(3000)]


def write_ops_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64) -> str:
    """``documents`` (doc_id, text, lang, source, n_chars) and ``embeddings``
    (vec_id, embedding float[dim], label) Parquet, in the schema of the
    repository's test data. A quarter of documents are light edits of an
    earlier one and vectors come from 500 noisy centres, so the near-dup
    operators find real pairs and clusters among mostly unrelated rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"ops:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.25:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(20, 60))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["en", "de", "zh", "fr"]) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(8)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    centres = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(500)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        c = rng.randrange(len(centres))
        vecs.append([x + rng.gauss(0, 0.6) for x in centres[c]])
        labels.append(c)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
